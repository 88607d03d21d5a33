"""Column profiling: the data-quality snapshot an ETL engine takes
before/after a load (the table-level companion of validate.py's
file-level prechecks): per column, non-null count, exact distinct
count, and min/max rendered as strings.

Scale: one two-phase aggregate leg per column (see
``profile_columns``), never Spark's Expand. Distinct counts are
exact, not HLL: the profile IS the correctness artifact here and the
DuckDB oracle is exact."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def profile_columns(df: DataFrame, cols: list) -> DataFrame:
    """One row per profiled column:
    (column, n_nonnull, n_distinct, min_value, max_value).

    r16 plan restructure (values unchanged): the
    old single agg with one ``countDistinct`` per column planned as
    Spark's Expand — |cols| + 1 shuffled copies of EVERY input row.
    Now each column is its own two-phase leg: ``groupBy(col)`` first
    (map-side partial aggregation collapses each scan partition to
    its distinct values — for a clustered/low-cardinality column the
    shuffle shrinks by orders of magnitude), then a 1-row aggregate
    over the groups reads every metric: n_distinct = count of
    non-null groups, n_nonnull = sum of non-null groups' row counts,
    min/max over the group keys (then cast to string, exactly as
    before). Each leg's parquet scan reads ONLY its column
    (column pruning the wide Expand scan could not apply per-copy).
    The legs union in ``cols`` order — the same output rows the
    Expand plan produced."""
    if not cols:
        raise ValueError("cols must be non-empty")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"unknown columns: {missing}")
    legs = []
    for c in cols:
        g = df.select(c).groupBy(c).agg(F.count("*").alias("_cnt"))
        legs.append(
            g.agg(
                F.coalesce(
                    F.sum(
                        F.when(F.col(c).isNotNull(), F.col("_cnt"))
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias("n_nonnull"),
                F.count(F.col(c)).cast("long").alias("n_distinct"),
                F.min(F.col(c)).cast("string").alias("min_value"),
                F.max(F.col(c)).cast("string").alias("max_value"),
            ).select(
                F.lit(c).alias("column"),
                "n_nonnull",
                "n_distinct",
                "min_value",
                "max_value",
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def embedding_psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    dims: int = 8,
    bins: int = 4,
) -> DataFrame:
    """Population-stability-index drift between two embedding
    snapshots, per dimension: equal-width bins derived from the
    REFERENCE snapshot's per-dim [min, max], Laplace-smoothed bin
    proportions on both sides, PSI = sum over bins of
    (p_ref - p_cur) * ln(p_ref / p_cur). The standard model-input
    drift monitor (PSI > 0.2 ~ investigate, > 0.25 ~ retrain),
    applied to each embedding dimension — catches encoder or
    upstream-distribution shifts before they poison ANN indexes and
    semantic dedup.

    Bit-stable cross-engine: bin counts are integers; every float
    step (bin width, proportions, each bin's PSI term) is a single
    fixed-order double expression — bins pivot to COLUMNS via
    conditional aggregation, so the final per-dim sum adds a fixed
    literal chain (never a float SUM whose partial order floats).
    Values outside the reference range clamp to the edge bins (that
    mass shift is exactly what PSI should see).

    Shape: slice to ``dims`` leading dimensions BEFORE exploding
    (explode factor = dims, not vector length), one tiny per-dim
    bounds agg broadcast back, one per-dim groupBy. Linear in
    rows x dims at any corpus size.

    Output: (dim, n_ref, n_cur, psi)."""
    if dims < 1 or bins < 2:
        raise ValueError("dims must be >= 1 and bins >= 2")
    x = F.col("x").cast("double")

    def _expl(df: DataFrame, snap: int) -> DataFrame:
        return df.select(
            F.lit(snap).alias("snap"),
            F.posexplode(F.slice(F.col("embedding"), 1, dims)).alias("dim", "x"),
        )

    expl = _expl(ref, 0).unionByName(_expl(cur, 1)).select(
        "snap", "dim", x.alias("x")
    )
    bounds = (
        expl.filter(F.col("snap") == 0)
        .groupBy("dim")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    width = (F.col("mx") - F.col("mn")) / F.lit(float(bins))
    bin_col = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.greatest(
            F.lit(0),
            F.least(
                F.lit(bins - 1),
                F.floor((F.col("x") - F.col("mn")) / width),
            ),
        )
    )
    binned = expl.join(F.broadcast(bounds), "dim").select(
        "dim", "snap", bin_col.cast("int").alias("bin")
    )
    aggs = []
    for s, tag in ((0, "r"), (1, "c")):
        for b in range(bins):
            aggs.append(
                F.sum(
                    ((F.col("snap") == s) & (F.col("bin") == b)).cast("long")
                ).alias(f"_{tag}{b}")
            )
    per = binned.groupBy("dim").agg(*aggs)
    n_ref = sum([F.col(f"_r{b}") for b in range(1, bins)], F.col("_r0"))
    n_cur = sum([F.col(f"_c{b}") for b in range(1, bins)], F.col("_c0"))
    per = per.withColumn("n_ref", n_ref).withColumn("n_cur", n_cur)
    psi = F.lit(0.0)
    for b in range(bins):
        p_r = (F.col(f"_r{b}").cast("double") + F.lit(1.0)) / (
            F.col("n_ref").cast("double") + F.lit(float(bins))
        )
        p_c = (F.col(f"_c{b}").cast("double") + F.lit(1.0)) / (
            F.col("n_cur").cast("double") + F.lit(float(bins))
        )
        psi = psi + (p_r - p_c) * F.log(p_r / p_c)
    return per.select(
        "dim", "n_ref", "n_cur", F.round(psi, 6).alias("psi")
    )


def embedding_ks_drift(
    ref: DataFrame,
    cur: DataFrame,
    dims: int = 8,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift between two embedding
    snapshots, per dimension: KS = max over the pooled sample of
    |ECDF_ref(x) - ECDF_cur(x)|. The binning-free companion of
    :func:`embedding_psi_drift` — PSI's fixed reference-range bins
    go blind to shifts inside one bin and saturate on mass outside
    the reference range; KS sees any distributional move, at the
    cost of a per-dim sort instead of a per-dim groupBy.

    Bit-stable cross-engine by construction: the two running ECDFs
    are cumulative INTEGER counts over a RANGE window (ties share the
    frame, so every row sees count(values <= x) exactly), each diff
    is one integer-ratio subtraction, and the per-dim reduce is MAX —
    order-independent, unlike a float SUM. No rounding is needed for
    parity; output rounds to 6 for display.

    Shape: slice to ``dims`` leading dims before exploding, then one
    window sort partitioned by dim — dims partitions of (n_ref +
    n_cur) rows each. At corpus scale the per-dim sort is the cost;
    shard it by pre-bucketing x and computing per-bucket offsets if
    a single dim's sample exceeds a task (the standard distributed-
    ECDF decomposition).

    Output: (dim, n_ref, n_cur, ks)."""
    if dims < 1:
        raise ValueError("dims must be >= 1")

    def _expl(df: DataFrame, snap: int) -> DataFrame:
        return df.select(
            F.lit(snap).alias("snap"),
            F.posexplode(F.slice(F.col("embedding"), 1, dims)).alias("dim", "x"),
        )

    expl = _expl(ref, 0).unionByName(_expl(cur, 1)).select(
        "snap", "dim", F.col("x").cast("double").alias("x")
    )
    w = Window.partitionBy("dim").orderBy("x")
    full = Window.partitionBy("dim")
    cum_r = F.sum((F.col("snap") == 0).cast("long")).over(w)
    cum_c = F.sum((F.col("snap") == 1).cast("long")).over(w)
    n_r = F.sum((F.col("snap") == 0).cast("long")).over(full)
    n_c = F.sum((F.col("snap") == 1).cast("long")).over(full)
    diff = F.abs(
        cum_r.cast("double") / n_r.cast("double")
        - cum_c.cast("double") / n_c.cast("double")
    )
    scored = expl.select(
        "dim",
        n_r.alias("n_ref"),
        n_c.alias("n_cur"),
        diff.alias("_d"),
    )
    return scored.groupBy("dim").agg(
        F.max("n_ref").cast("bigint").alias("n_ref"),
        F.max("n_cur").cast("bigint").alias("n_cur"),
        F.round(F.max("_d"), 6).alias("ks"),
    )


def algebraic_state(
    df: DataFrame, keys: list, val_col: str
) -> DataFrame:
    """The mergeable per-group aggregate state (count, sum, sum of
    squares, min, max) for one slice of a relation — the map-side
    half of every algebraic aggregate, made explicit so it can be
    PERSISTED: an incremental rollup stores this state per
    (group, slice) and folds new slices in with
    :func:`merge_states`, never rescanning history. The state is
    a commutative monoid, so slicing is arbitrary (by arrival batch,
    by partition, by day) and merge order never matters.

    Output: keys + (cnt, s, sumsq, mn, mx)."""
    v = F.col(val_col).cast("double")
    return df.groupBy(*keys).agg(
        F.count(v).cast("bigint").alias("cnt"),
        F.sum(v).alias("s"),
        F.sum(v * v).alias("sumsq"),
        F.min(v).alias("mn"),
        F.max(v).alias("mx"),
    )


def merge_states(states: list, keys: list) -> DataFrame:
    """Fold any number of :func:`algebraic_state` slices into final
    per-group statistics: count, mean, sample stddev, min, max —
    exactly what a full rescan would produce, from state alone.

    Stddev uses the closed form sqrt((sumsq - s^2/cnt) / (cnt - 1))
    clamped at zero — the clamp absorbs the catastrophic-cancellation
    sign flip on near-constant groups (the q132 z-score lesson:
    engines fold the same expression to opposite-sign roundoff, and
    sqrt of a negative residue is NaN poison downstream). NULL when
    cnt < 2.

    Output: keys + (cnt, avg_value, std_value, min_value,
    max_value); floats rounded to 6 (the merge re-sums slice sums,
    so the final adds are fixed-order only after the groupBy —
    rounding is the parity boundary, as everywhere in the catalog).
    """
    if not states:
        raise ValueError("states must be non-empty")
    u = states[0]
    for s in states[1:]:
        u = u.unionByName(s)
    merged = u.groupBy(*keys).agg(
        F.sum("cnt").cast("bigint").alias("cnt"),
        F.sum("s").alias("s"),
        F.sum("sumsq").alias("sumsq"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )
    cnt = F.col("cnt").cast("double")
    var = F.greatest(
        F.lit(0.0), (F.col("sumsq") - F.col("s") * F.col("s") / cnt)
    ) / (cnt - F.lit(1.0))
    return merged.select(
        *keys,
        "cnt",
        F.round(F.col("s") / cnt, 6).alias("avg_value"),
        F.round(
            F.when(F.col("cnt") >= 2, F.sqrt(var)), 6
        ).alias("std_value"),
        F.round(F.col("mn"), 6).alias("min_value"),
        F.round(F.col("mx"), 6).alias("max_value"),
    )
