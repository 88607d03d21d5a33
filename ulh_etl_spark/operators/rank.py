"""Scale-safe global ranking/bucketing.

``ntile`` / ``row_number`` over an UNPARTITIONED window funnel every
row through one task — the classic Spark scale-killer (fine at test
SF, fatal at 100 TB). ``global_ntile`` computes the identical result
with the plan a distributed sort actually wants:

1. ``repartitionByRange`` on the order keys — Spark's range
   partitioner (sampled split points), each task owns a contiguous
   key range; this is the same machinery ``orderBy`` uses for total
   sorts, so it scales to arbitrary data sizes.
2. a per-PARTITION ``row_number`` window (parallelism = number of
   range partitions, each task sorts only its slice),
3. per-partition counts collected to the driver (<= defaultParallelism
   rows — driver-small by construction) and folded back in as a
   cumulative-offset array literal indexed by partition id,
4. global rank = offset[pid] + local rank; the ntile bucket follows
   from the exact SQL-standard formula (first ``n mod k`` buckets get
   one extra row), so the result is bit-identical to ``ntile(k) OVER
   (ORDER BY ...)`` and shares its SQL oracle.

Total cost: one range exchange + one hash exchange on partition id +
one tiny count job. NO unpartitioned window exists anywhere in the
plan — the global-rank result of the split-point choice is
invariant, so AQE coalescing or skewed range samples change task
sizing, never values. The ranked intermediate is persisted so the
count job and the downstream consumer share one computation of the
sort (the exchanges are additionally stage-reused within the
session).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# Every _global_index call persists its ranked intermediate (the count
# job and the consumer must share ONE materialization of the sort) and
# registers it here — the cache must outlive the returned lazy frame,
# so it cannot be released inside the operator. Long-lived sessions
# call release_rank_caches() once downstream results are materialized
# (or no longer needed); otherwise each call pins a cached dataset for
# the session lifetime.
_LIVE_CACHES: list[DataFrame] = []


def release_rank_caches() -> int:
    """Unpersist every ranked intermediate cached by
    :func:`global_ntile` / :func:`global_row_number` calls so far;
    returns how many were released. Call after the consuming query has
    materialized (re-materializing a released result recomputes the
    range sort — correct, just not free)."""
    n = len(_LIVE_CACHES)
    for cached in _LIVE_CACHES:
        cached.unpersist()
    _LIVE_CACHES.clear()
    return n


def global_ntile(
    df: DataFrame,
    order_by: list[str | Column],
    k: int,
    out_col: str = "ntile",
) -> DataFrame:
    """Append ``out_col`` = ``ntile(k) OVER (ORDER BY *order_by)``
    without an unpartitioned window. ``order_by`` must be a total
    order (include a tiebreak key) or the assignment is only
    deterministic up to ties — same contract as the window form.

    The ranked intermediate is persisted (the count job and the
    consumer must see identical partition ids), which pins every
    incoming column — pre-project ``df`` to the columns you need
    before calling, since Catalyst cannot prune through the cache."""
    local, rank_col, n = _global_index(df, order_by)
    base, extra = n // k, n % k  # first `extra` buckets get base+1 rows
    cut = extra * (base + 1)
    if base == 0:
        bucket = rank_col  # fewer rows than buckets: row i -> bucket i
    else:
        bucket = F.when(
            rank_col <= cut, F.ceil(rank_col / F.lit(base + 1))
        ).otherwise(extra + F.ceil((rank_col - cut) / F.lit(base)))
    return local.withColumn(out_col, bucket.cast("int")).drop("_pid", "_lrn")


def global_row_number(
    df: DataFrame,
    order_by: list[str | Column],
    out_col: str = "row_num",
) -> DataFrame:
    """Append ``out_col`` = ``row_number() OVER (ORDER BY *order_by)``
    (1-based) with the same scale-safe shape as :func:`global_ntile`
    — the global-index primitive behind deterministic corpus
    shuffling, sharded export, and position-based sampling. Same
    total-order and pre-projection contracts."""
    local, rank_col, _n = _global_index(df, order_by)
    return local.withColumn(out_col, rank_col.cast("long")).drop("_pid", "_lrn")


def _global_index(
    df: DataFrame, order_by: list[str | Column]
) -> tuple[DataFrame, Column, int]:
    """Shared core: range-repartition into defaultParallelism slices +
    per-slice rank + driver offsets. Returns (frame with _pid/_lrn,
    1-based global-rank column, total row count)."""
    num_partitions = df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]

    ranged = df.repartitionByRange(num_partitions, *cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    # The window repartitions by _pid (hash) — each range slice lands
    # in one task and sorts only itself. Parallelism = num_partitions.
    w = Window.partitionBy("_pid").orderBy(*cols)
    local = ranged.withColumn("_lrn", F.row_number().over(w)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    _LIVE_CACHES.append(local)

    counts = {
        r["_pid"]: r["_cnt"]
        for r in local.groupBy("_pid").agg(F.count("*").alias("_cnt")).collect()
    }
    n = sum(counts.values())
    offs, acc = [], 0
    for pid in range(max(counts, default=-1) + 1):
        offs.append(acc)
        acc += counts.get(pid, 0)

    # offsets as a literal array indexed by pid — one parsed
    # expression, no join, no window (see similarity._centroid_literal
    # for why not per-element F.lit construction).
    off = F.element_at(
        F.expr(
            "array({})".format(
                ", ".join(f"CAST({v} AS BIGINT)" for v in offs) or "CAST(0 AS BIGINT)"
            )
        ),
        F.col("_pid") + 1,
    )
    return local, off + F.col("_lrn"), n


def group_quantile_calibrate(
    df: DataFrame,
    value_col: str,
    group_col: str,
    keep_frac: float | None = None,
):
    """Per-group quantile calibration: map ``value_col`` to its
    percent_rank WITHIN its group (column ``calibrated``), making
    scores comparable across groups with different
    scales/distributions — the source-fair quality thresholding pass
    (CCNet applies it to perplexity per language; same trick for
    heuristic quality per crawl source). A
    single global cutoff on the raw score over-prunes whole sources
    whose scores run low; cutting on the calibrated rank keeps the
    same fraction of every group.

    ``keep_frac`` adds a boolean ``keep``: True for the top
    ``keep_frac`` of each group (calibrated >= 1 - keep_frac).
    percent_rank is (rank-1)/(n-1) with tie-sharing — deterministic,
    no RNG, and identical in ANSI SQL, so the whole output is
    oracle-checkable.

    Scale: ONE shuffle on the group key; the in-group sort is the
    window sort. Group skew = the largest group's share of the
    corpus; if one source dominates, split its ranking with
    global_ntile per group (range partition within the group) — the
    window form is right while every group fits a task's spill
    budget."""
    if keep_frac is not None and not 0.0 < keep_frac <= 1.0:
        raise ValueError("keep_frac must be in (0, 1]")
    w = Window.partitionBy(group_col).orderBy(value_col)
    out = df.withColumn("calibrated", F.round(F.percent_rank().over(w), 6))
    if keep_frac is not None:
        out = out.withColumn(
            "keep", F.col("calibrated") >= F.lit(1.0) - F.lit(keep_frac)
        )
    return out
