"""Temporal join operators: as-of join and bucketed range join.

Spark has no native ASOF JOIN (kdb/Pandas/DuckDB do) and naive
formulations — a theta-join on ``r.ts <= l.ts`` plus a keep-latest
window, or a per-key sort-merge in Python — either explode to
O(|L| x |R|/key) intermediates or leave the JVM. These are the two
scale-safe shapes:

- **as-of join**: union both sides, one window over (key) ordered by
  (ts, side): ``last(right_payload, ignorenulls=True)`` backfills each
  left row with the most recent right row at or before it. Exactly ONE
  shuffle (on the key) + one sort — the same cost as a regular
  sort-merge join, regardless of how many right rows precede each left
  row. No per-key explosion, no Python.
- **range join**: join pairs within a time window via interval
  bucketing: floor both sides to ``window``-sized epoch buckets; a
  qualifying pair is always in the same or adjacent bucket, so the
  probe side explodes to 2 rows (bucket, bucket+1) and ONE equi-join
  on (key, bucket) finds every candidate; an exact residual filter
  keeps true pairs. Join-key cardinality is |keys| x |buckets| — no
  skew collapse onto a handful of keys, never a cartesian product.

Reference parity: the reference engine has no temporal joins at all
(SURVEY §2.4 — equi-joins only); these are engine additions for the
event/training-data workloads (BASELINE.json north-star ops).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, TimestampNTZType, TimestampType


def _epoch_micros(col: Column, dtype: DataType) -> Column:
    """Microseconds since epoch for either timestamp flavor.

    ``unix_micros`` only accepts TIMESTAMP (LTZ); a TIMESTAMP_NTZ
    column is first cast to LTZ, which interprets the naive value in
    the session timezone — exact for the engine's pinned-UTC sessions
    (``get_spark``/``load_table`` both force UTC). Only *differences*
    and bucket assignments of these values are consumed below, so a
    constant session-tz offset cancels out anyway.
    """
    if isinstance(dtype, TimestampNTZType):
        return F.unix_micros(col.cast("timestamp"))
    if isinstance(dtype, TimestampType):
        return F.unix_micros(col)
    raise TypeError(f"expected a timestamp column, got {dtype}")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_payload: tuple[str, ...],
    tiebreak: str | None = None,
    tolerance_seconds: int | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: every ``left`` row gains the payload of the nearest
    ``right`` row with the same ``on`` key — the latest at-or-before
    (``direction='backward'``, default) or the earliest at-or-after
    (``direction='forward'``); unmatched rows keep nulls. The pandas
    ``merge_asof`` surface, distributed. Payload columns come out as
    ``matched_<col>``.

    ``tolerance_seconds`` nulls out matches farther than the horizon
    (|left_ts - matched_ts| > tolerance): the match is computed in the
    same single window pass and masked afterwards — no extra join.

    ``tiebreak`` orders right rows that share (key, ts) — the row with
    the greatest tiebreak value wins, deterministically. Payload
    columns are packed into ONE struct so the window backfills them
    atomically (all from the same right row). Forward direction is
    the same one-shuffle plan with the sort reversed.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    payload_cols = [right_ts, *[c for c in right_payload if c != right_ts]]
    # ANSI semantics: a NULL timestamp or NULL key never matches
    # (comparison yields false/unknown). Without this filter, NULL
    # right timestamps sort to the head of the partition (asc =
    # nulls-first) and would backfill otherwise-unmatched left rows;
    # NULL keys would pair null-key left rows with null-key right
    # rows. Left rows with NULL ts/key still come through unmatched
    # (left-outer), which is also the ANSI result.
    right = right.filter(
        F.col(right_ts).isNotNull() & F.col(on).isNotNull()
    )
    r = right.select(
        F.col(on),
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_side"),
        F.struct(*[F.col(c) for c in payload_cols]).alias("_r"),
    )
    l = left.withColumn("_t", F.col(left_ts)).withColumn("_side", F.lit(1))
    u = l.unionByName(r, allowMissingColumns=True)

    backward = direction == "backward"
    # backward: right rows before left at equal ts (inclusive <=),
    # scan ascending, take the LAST right row seen so far.
    # forward: scan descending (later rows first), right still before
    # left at equal ts (inclusive >=), take the last right row seen —
    # which is the EARLIEST at-or-after. Same plan, reversed sort.
    t_order = F.col("_t").asc() if backward else F.col("_t").desc()
    order = [t_order, F.col("_side").asc()]
    if tiebreak is not None:
        # right rows with equal (key, ts): greatest tiebreak sorts last
        # (ascending within either ts direction), so last(_r) picks it
        # in both modes. Left rows carry null _r and a higher _side,
        # so they never shadow a right row.
        order.append(F.col("_r").getField(tiebreak).asc_nulls_first())
    w = (
        Window.partitionBy(on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.withColumn("_match", F.last("_r", ignorenulls=True).over(w))
    match = F.col("_match")
    if tolerance_seconds is not None:
        horizon = int(tolerance_seconds) * 1_000_000
        ts_type = left.schema[left_ts].dataType
        gap = _epoch_micros(F.col("_t"), ts_type) - _epoch_micros(
            match.getField(right_ts), right.schema[right_ts].dataType
        )
        gap = gap if backward else -gap
        match = F.when(gap <= horizon, match)  # else NULL: out of horizon
    filled = filled.withColumn("_match", match)
    out = filled.filter(F.col("_side") == 1).select(
        *[F.col(c) for c in left.columns],
        *[
            F.col("_match").getField(c).alias(f"matched_{c}")
            for c in payload_cols
        ],
    )
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    window_seconds: int,
    left_cols: tuple[str, ...],
    right_cols: tuple[str, ...],
    strict_after: bool = True,
) -> DataFrame:
    """Pairs (l, r) with equal ``on`` key and ``r.ts`` in
    ``(l.ts, l.ts + window]`` (or ``[l.ts, ...]`` when
    ``strict_after=False``).

    Implementation: epoch-microsecond bucketing at ``window_seconds``
    width. The right row lands in exactly one bucket; the left row
    probes its own bucket and the next (explode to 2 rows), so one
    equi-join on (key, bucket) covers every candidate and each true
    pair is produced exactly once (no distinct needed).
    """
    if window_seconds <= 0:
        # fail at build time, not as a runtime DIVIDE_BY_ZERO in the
        # bucket expression (ANSI) / an empty-result silent no-op
        raise ValueError("window_seconds must be positive")
    win_us = int(window_seconds) * 1_000_000
    l_us = _epoch_micros(F.col(left_ts), left.schema[left_ts].dataType)
    r_us = _epoch_micros(F.col(right_ts), right.schema[right_ts].dataType)

    a = left.select(
        F.col(on).alias("_k"),
        l_us.alias("_lus"),
        *[F.col(c) for c in left_cols],
    ).select(
        "*",
        F.explode(
            F.array(
                (F.col("_lus") / win_us).cast("long"),
                (F.col("_lus") / win_us).cast("long") + 1,
            )
        ).alias("_probe"),
    )
    b = right.select(
        F.col(on).alias("_k2"),
        r_us.alias("_rus"),
        *[F.col(c) for c in right_cols],
    ).withColumn("_bkt", (F.col("_rus") / win_us).cast("long"))

    lower = (
        (F.col("_rus") > F.col("_lus"))
        if strict_after
        else (F.col("_rus") >= F.col("_lus"))
    )
    joined = a.join(
        b, (F.col("_k") == F.col("_k2")) & (F.col("_probe") == F.col("_bkt"))
    ).filter(lower & (F.col("_rus") <= F.col("_lus") + win_us))
    return joined.select(
        F.col("_k").alias(on),
        *[F.col(c) for c in left_cols],
        *[F.col(c) for c in right_cols],
        (F.col("_rus") - F.col("_lus")).alias("gap_us"),
    )


def rolling_zscore_anomalies(
    df,
    value_col: str,
    order_col: str,
    baseline: int = 8,
    threshold: float = 2.0,
    partition_col: str | None = None,
):
    """Time-series anomaly flags: each point scored against the
    TRAILING ``baseline`` points (current excluded — the baseline
    must not contain the anomaly it is judging): z = (x - mean) /
    sqrt(var), flagged when |z| > threshold. Variance uses the
    explicit sum/sumsq closed form over the window — both engines
    fold the same frame rows in the same order, so the oracle is
    bit-stable (a builtin stddev's internal accumulation order is
    not). Points with fewer than ``baseline`` predecessors get NULL
    z and are never flagged. mean/z are emitted UNROUNDED: both
    engines produce bitwise-identical doubles from the identical
    frame fold, while a display round() reintroduces engine-specific
    half-case behavior (Spark HALF_UP vs DuckDB half-even — measured
    flapping at the 4th decimal).

    Flat-baseline semantics: a full trailing window whose values
    are all identical (``min == max`` over the frame — bit-stable
    in both engines, unlike the round-off-prone closed-form
    variance sign for constant non-integer baselines such as all
    0.1) has no meaningful z. Such points get NULL ``zscore`` and
    ``is_anomaly = (x != min)``: any departure from a perfectly
    flat baseline is by definition anomalous, and ``min`` is exact
    where the computed mean carries round-off. A second ``var > 0``
    guard backs this up for large-magnitude low-spread baselines
    (values near 1e16) where the closed form can cancel to exactly
    0 (divide-by-zero — a hard error under Spark 4's default ANSI
    mode) or to a tiny negative (sqrt → NaN, and abs(NaN) >
    threshold is TRUE under Spark's NaN ordering); rows with
    min != max but var <= 0 also fall through to the ``x != min``
    branch. Both guards are mirrored verbatim in the q132/q139
    DuckDB oracles. (The streaming twin ``running_zscore_stream``
    guards on Welford ``m2 > 0``, which is equivalent here only
    because Welford's incremental update does not cancel.)

    Scale: with ``partition_col`` (per-key series) this is one
    shuffle and bounded frames. WITHOUT it the window is global —
    acceptable ONLY because a time-bucketed series is calendar-
    bounded (52 weekly rows/year forever), not data-bounded; never
    use the global form on a row-per-event relation.

    Adds mean/z/flag columns; input rows pass through."""
    from pyspark.sql import Window

    if baseline < 2:
        raise ValueError("baseline must be >= 2 (variance needs n > 1)")
    w = (
        Window.partitionBy(partition_col) if partition_col else Window
    ).orderBy(order_col).rowsBetween(-baseline, -1)
    x = F.col(value_col)
    cnt = F.count(x).over(w)
    s = F.sum(x).over(w)
    sq = F.sum(x * x).over(w)
    mean = s / cnt
    var = (sq - s * s / cnt) / (cnt - 1)
    z = (x - mean) / F.sqrt(var)
    full = cnt >= baseline
    # Flat-baseline guard via min==max over the frame, NOT `var > 0`:
    # for a constant non-integer baseline (all 0.1) float roundoff in
    # sq - s*s/cnt can leave a tiny positive residue, turning every
    # point into a huge z-score — and Spark/DuckDB window-sum orders
    # can disagree on the residue's sign. min/max comparison is
    # bit-stable in both engines.
    mn = F.min(x).over(w)
    mx = F.max(x).over(w)
    # Both guards (see docstring): min!=max for bit-stable flat
    # detection, var>0 against catastrophic cancellation at large
    # magnitudes (exact-0 -> ANSI divide error, negative -> NaN z
    # that NaN-ordering would flag anomalous).
    scored = full & (mn != mx) & (var > 0)
    return (
        df.withColumn("baseline_mean", F.when(full, mean))
        .withColumn("zscore", F.when(scored, z))
        .withColumn(
            "is_anomaly",
            # flat baseline: anomalous iff the point leaves the
            # constant level (compare against mn, which is exact,
            # not the round-off-prone mean).
            F.when(scored, F.abs(z) > F.lit(threshold))
            .when(full, x != mn)
            .otherwise(F.lit(False)),
        )
    )


def ewma_anomaly(
    df: DataFrame,
    value_col: str,
    order_col: str,
    partition_col: str | None = None,
    alpha: float = 0.5,
    window: int = 6,
    mult: float = 2.0,
) -> DataFrame:
    """EWMA spike detection over a series: each point is compared
    against the exponentially-weighted moving average of its
    ``window`` PRIOR observations (current point excluded — a spike
    must not inflate its own baseline). Weight of the j-th prior
    point is alpha*(1-alpha)^(j-1), normalized over the truncated
    window; a point is anomalous when value > mult * ewma. The EWMA
    reacts to level shifts faster than the rolling-zscore baseline
    (:func:`rolling_zscore_anomalies`) and needs no variance, so it
    has no flat-baseline degeneracy at all.

    Bit-stable by construction with the default alpha=0.5: the
    weights are exact binary fractions (2^-1 .. 2^-window) and the
    normalizer 1 - 2^-window is exact, so both engines fold the
    identical literal into an explicit lag-sum — no recursive state,
    no float summation-order ambiguity (the lag terms are added in
    one fixed literal order). Points with fewer than ``window``
    prior observations get a NULL ewma and is_anomaly = FALSE.

    "Prior observations" are ROWS, not calendar offsets: feed a
    dense series (gap-filled if days can be empty) when calendar
    semantics matter.

    Scale: one shuffle on ``partition_col``, bounded lag frames; the
    same global-window caveat as rolling_zscore_anomalies applies to
    the unpartitioned form (time-bucketed series only).

    Adds (ewma, is_anomaly); input rows pass through."""
    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    if window < 1:
        raise ValueError("window must be >= 1")
    w = (
        Window.partitionBy(partition_col) if partition_col else Window
    ).orderBy(order_col)
    x = F.col(value_col)
    weights = [alpha * (1.0 - alpha) ** (j - 1) for j in range(1, window + 1)]
    norm = sum(weights)
    num = F.lit(0.0)
    for j, wt in enumerate(weights, start=1):
        num = num + F.lit(wt) * F.lag(x, j).over(w)
    ewma = num / F.lit(norm)
    full = F.lag(x, window).over(w).isNotNull()
    return (
        df.withColumn("ewma", F.when(full, F.round(ewma, 6)))
        .withColumn(
            "is_anomaly",
            F.when(full, x > F.lit(mult) * ewma).otherwise(F.lit(False)),
        )
    )


def gap_fill_daily(
    df,
    ts_col: str,
    partition_col: str,
    val_col: str,
):
    """Calendar gap-filling with forward-fill — the densification
    step before any rolling/EWMA monitor (q132/q139/q164 all assume
    a dense series; a silent missing day shifts every lag frame):
    per series key, scaffold EVERY day between the key's first and
    last observation (sequence + explode — the scaffold relation is
    days x keys, never touches the event rows), left-join the
    observed daily totals, and carry the last observed total forward
    (last_value IGNORE NULLS over an unbounded-preceding ROWS
    frame). Day 1 of every key is observed by construction, so the
    fill never reads NULL.

    Bit-stability: the daily total (a float SUM whose partial order
    floats) is ROUNDED before the fill copies it, so observed and
    filled values are identical doubles in both engines.

    Scale: one groupBy on (key, day), one tiny per-key bounds agg
    (broadcast back), explode fan-out = calendar days per key, one
    ROWS window per key. Linear in events + days.

    Output: (partition_col, day 'yyyy-MM-dd', observed, day_total
    NULL on gap days, filled)."""
    day = F.date_trunc("day", F.col(ts_col)).cast("date")
    daily = (
        df.groupBy(F.col(partition_col), day.alias("_day"))
        .agg(F.round(F.sum(F.col(val_col)), 6).alias("day_total"))
    )
    bounds = daily.groupBy(partition_col).agg(
        F.min("_day").alias("_mn"), F.max("_day").alias("_mx")
    )
    scaffold = bounds.select(
        partition_col,
        F.explode(
            F.sequence(F.col("_mn"), F.col("_mx"), F.expr("interval 1 day"))
        ).alias("_day"),
    )
    joined = scaffold.join(daily, [partition_col, "_day"], "left")
    w = (
        Window.partitionBy(partition_col)
        .orderBy("_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        partition_col,
        F.date_format(F.col("_day"), "yyyy-MM-dd").alias("day"),
        F.col("day_total").isNotNull().alias("observed"),
        "day_total",
        F.last("day_total", ignorenulls=True).over(w).alias("filled"),
    )


def peak_concurrency_daily(sessions: DataFrame) -> DataFrame:
    """Peak concurrent sessions per day — the sweep-line interval
    aggregate (capacity planning / rate-limit sizing over q51's
    sessionization), decomposed so the sweep NEVER needs a global
    single-partition window:

    1. boundary events (+1 at start, -1 at end, INCLUSIVE overlap —
       +1 sorts before -1 at an equal timestamp) swept per DAY with
       a day-partitioned ROWS window;
    2. the cross-midnight carry is an O(days) side relation: the
       baseline active count at each day's midnight =
       cumulative starts before the day - cumulative ends before it
       (both from tiny per-day counts; the days relation is bounded
       by the calendar, so its window is a non-issue at any corpus
       size — this is the standard distributed sweep decomposition,
       same shape as a bucketed ECDF).

    Peak(day) = baseline(day) + max over the day's boundary rows of
    the within-day running sum. All integers — exact cross-engine.
    Equal-timestamp boundary groups are same-signed after the
    (ts, delta DESC) sort, so the per-day MAX is invariant to the
    residual tie order.

    Input: (session_start, session_end). Output: (day 'yyyy-MM-dd',
    n_started, peak_concurrency)."""
    s = F.col("session_start")
    e = F.col("session_end")
    bounds = sessions.select(
        s.alias("ts"), F.lit(1).alias("delta")
    ).unionByName(sessions.select(e.alias("ts"), F.lit(-1).alias("delta")))
    bounds = bounds.withColumn(
        "day", F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    )
    w = (
        Window.partitionBy("day")
        .orderBy(F.col("ts"), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = bounds.select(
        "day", F.sum("delta").over(w).alias("_run")
    ).groupBy("day").agg(F.max("_run").alias("_peak_within"))

    per_day = sessions.select(
        F.date_format(F.date_trunc("day", s), "yyyy-MM-dd").alias("_sd"),
        F.date_format(F.date_trunc("day", e), "yyyy-MM-dd").alias("_ed"),
    )
    starts = per_day.groupBy(F.col("_sd").alias("day")).agg(
        F.count("*").alias("_ns")
    )
    ends = per_day.groupBy(F.col("_ed").alias("day")).agg(
        F.count("*").alias("_ne")
    )
    days = within.select("day").join(
        starts, "day", "left"
    ).join(ends, "day", "left").select(
        "day",
        F.coalesce(F.col("_ns"), F.lit(0)).alias("_ns"),
        F.coalesce(F.col("_ne"), F.lit(0)).alias("_ne"),
    )
    dw = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    base = days.select(
        "day",
        F.col("_ns"),
        (
            (F.sum("_ns").over(dw) - F.col("_ns"))
            - (F.sum("_ne").over(dw) - F.col("_ne"))
        ).alias("_base"),
    )
    return base.join(within, "day").select(
        "day",
        F.col("_ns").cast("bigint").alias("n_started"),
        (F.col("_base") + F.col("_peak_within"))
        .cast("bigint")
        .alias("peak_concurrency"),
    )


def mad_anomalies(
    daily: DataFrame,
    val_col: str,
    partition_col: str,
    mult: float = 3.0,
) -> DataFrame:
    """Median-absolute-deviation anomaly flags — the ROBUST member of
    the monitoring family (rolling z-score q132/q139 is wrecked by
    the very outliers it hunts; EWMA q164 chases level shifts; MAD's
    breakdown point is 50%): per series key, med = median(x),
    MAD = median(|x - med|), flag when
    |x - med| > mult * 1.4826 * MAD (1.4826 scales MAD to sigma
    under normality).

    Division-free by construction — a constant series gives MAD 0
    and threshold 0 (any deviation flags); there is NO divide, so
    the q132 NaN/ANSI-crash class cannot exist here. Exactness:
    medians of integer counts are exact binary fractions ((a+b)/2),
    so both engines compute identical doubles with no rounding
    dependence; the output rounds for display only.

    Scale: two percentile aggregates per key (Spark's exact
    sort-based percentile; swap approx_percentile at 100 TB — same
    call shape) + two broadcast-size joins back. Keys are series
    names — tiny relations everywhere except the daily scan.

    Output: (partition_col, day-or-order cols from ``daily``...,
    val, med, mad, is_anomaly)."""
    med = daily.groupBy(partition_col).agg(
        F.expr(f"percentile({val_col}, 0.5)").alias("_med")
    )
    dev = daily.join(F.broadcast(med), partition_col).withColumn(
        "_adev", F.abs(F.col(val_col).cast("double") - F.col("_med"))
    )
    mad = dev.groupBy(partition_col).agg(
        F.expr("percentile(_adev, 0.5)").alias("_mad")
    )
    scored = dev.join(F.broadcast(mad), partition_col)
    thresh = F.lit(mult) * F.lit(1.4826) * F.col("_mad")
    return scored.select(
        partition_col,
        *[c for c in daily.columns if c not in (partition_col, val_col)],
        F.col(val_col),
        F.round(F.col("_med"), 6).alias("med"),
        F.round(F.col("_mad"), 6).alias("mad"),
        (F.col("_adev") > thresh).alias("is_anomaly"),
    )


def cusum_changepoints(
    df: DataFrame,
    value_col: str,
    order_col: str,
    group_col: str,
    slack: float = 0.5,
    threshold: float = 4.0,
) -> DataFrame:
    """One-sided CUSUM change detection (Page, Biometrika 1954) per
    group, WITHOUT per-row recursion: the textbook statistic
    C_t = max(0, C_{t-1} + y_t) equals the prefix identity

        C_t = S_t - min(0, min_{j<=t} S_j),   S_t = sum_{i<=t} y_i

    so two ordered window functions (running sum, running min)
    compute it — the recursion a naive port would loop over in the
    driver becomes one window pass per group. y_t is the
    standardized series minus the ``slack`` drift allowance, ROUNDED
    to 6 before the windows (the q132 convention: both engines then
    fold identical doubles in identical frame order, so every C_t is
    bit-exact); mean/std are written as the explicit
    sum / sum-of-squares expressions so no engine-specific variance
    algorithm enters.

    Scale: one map-combined groupBy for the per-group moments, one
    broadcast join back, one window partitioned by group (series are
    calendar-bounded — the rolling_zscore_anomalies argument).

    Output per group: (group, n_points, max_cusum, changepoint —
    the earliest order value attaining the max — and alarm =
    max_cusum >= threshold)."""
    g, v, o = group_col, value_col, order_col
    stats = df.groupBy(g).agg(
        F.count("*").cast("double").alias("_n"),
        F.sum(F.col(v)).alias("_s"),
        F.sum(F.col(v) * F.col(v)).alias("_sq"),
    )
    mu = F.col("_s") / F.col("_n")
    var = F.col("_sq") / F.col("_n") - mu * mu
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    scored = (
        df.join(F.broadcast(stats), g)
        .select(
            g,
            o,
            F.round(
                F.when(
                    std > 0,
                    (F.col(v) - mu) / std - F.lit(slack),
                ).otherwise(F.lit(-slack)),
                6,
            ).alias("_y"),
        )
    )
    w = (
        Window.partitionBy(g)
        .orderBy(o)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # two projections: Spark forbids a window expression inside
    # another window's argument
    s = scored.select(g, o, F.sum("_y").over(w).alias("_S"))
    c = s.select(
        g,
        o,
        (
            F.col("_S")
            - F.least(F.lit(0.0), F.min("_S").over(w))
        ).alias("_c"),
    )
    wr = Window.partitionBy(g).orderBy(F.col("_c").desc(), F.col(o).asc())
    wn = Window.partitionBy(g)
    return (
        c.select(
            g,
            o,
            "_c",
            F.row_number().over(wr).alias("_rk"),
            F.count("*").over(wn).alias("_np"),
        )
        .filter(F.col("_rk") == 1)
        .select(
            g,
            F.col("_np").cast("bigint").alias("n_points"),
            F.round(F.col("_c"), 6).alias("max_cusum"),
            F.col(o).alias("changepoint"),
            (F.col("_c") >= F.lit(threshold)).alias("alarm"),
        )
    )
