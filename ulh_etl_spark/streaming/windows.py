"""Event-time analytics: tumbling-window aggregation and gap-based
sessionization.

Engine additions beyond the reference surface (it has no windowed or
stateful operators — SURVEY §2.9): the operators a telemetry/event
pipeline needs over the ``events`` table. Both are written so the SAME
function works on a batch DataFrame (DuckDB-oracle-testable) and on a
streaming DataFrame (with watermarks bounding state).

Scale notes: tumbling-window counts are a hash aggregate keyed by
(window, group) — partial aggregation map-side, one shuffle;
watermarks cap streaming state. Sessionization in batch is two window
functions over (user, ts) — one shuffle on user_id; the streaming
variant uses ``session_window`` (state bounded by the watermark +
gap).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def windowed_counts(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    group_cols: tuple[str, ...] = ("event_type",),
    value_col: str | None = "value",
    watermark: str | None = None,
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (or, with ``slide``, hopping) window counts (+ sum of
    ``value_col``) per group. A sliding window replicates each event
    into window/slide overlapping windows BEFORE the partial
    aggregate — state and shuffle grow by that factor, which is why
    the slide should never be tiny relative to the window at scale.
    Pass ``watermark`` when ``df`` is streaming to bound state and
    admit late data up to that delay."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    agg = [F.count("*").alias("n_events")]
    if value_col:
        agg.append(F.round(F.sum(value_col), 4).alias("sum_value"))
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    return (
        df.groupBy(win.alias("w"), *group_cols)
        .agg(*agg)
        .select(
            F.col("w.start").alias("window_start"),
            *group_cols,
            *[c for c in ("n_events", "sum_value") if value_col or c == "n_events"],
        )
    )


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """Gap-based sessions (batch): a new session starts when the gap
    since the user's previous event exceeds ``gap_minutes``. Classic
    lag -> boundary flag -> running sum; one shuffle on ``user_col``.
    Returns one row per session with start/end/count."""
    w = Window.partitionBy(user_col).orderBy(ts_col)
    # Interval arithmetic, not numeric casts: timestamp - timestamp is
    # a day-time interval for BOTH TIMESTAMP and TIMESTAMP_NTZ, whereas
    # CAST(ts AS BIGINT) is an ANSI error on NTZ columns.
    gap = F.expr(f"INTERVAL '{int(gap_minutes) * 60}' SECOND")
    flagged = df.withColumn(
        "_new_session",
        F.when(
            F.col(ts_col) - F.lag(F.col(ts_col)).over(w) > gap,
            1,
        )
        .otherwise(0)
        .cast("long"),
    ).withColumn("_session_idx", F.sum("_new_session").over(w))
    return (
        flagged.groupBy(user_col, "_session_idx")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .select(
            user_col,
            F.col("_session_idx").alias("session_idx"),
            "session_start",
            "session_end",
            "n_events",
        )
    )


def streaming_session_counts(
    df: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming sessionization of (user_id, ts) events via
    ``session_window`` — state bounded by watermark + gap; the
    streaming twin of :func:`sessionize`."""
    return (
        df.withWatermark("ts", watermark)
        .groupBy(F.session_window(F.col("ts"), gap).alias("sw"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("user_id"),
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            F.col("n_events"),
        )
    )


def dedup_within_watermark(
    df: DataFrame,
    keys: "tuple[str, ...]",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """At-least-once -> effectively-once key dedup for event streams:
    ``dropDuplicatesWithinWatermark`` keeps the FIRST row per key and
    drops re-deliveries arriving within the watermark delay — the
    standard defense against source re-sends (Kafka redelivery, HTTP
    retry webhooks) where an unbounded ``dropDuplicates`` would grow
    state forever. State per key is evicted once the watermark passes
    its event time, so memory is bounded by keys-per-watermark-window
    at ANY stream length — and, the flip side every consumer must
    know, a duplicate arriving LATER than the watermark delay is
    re-admitted (exactly-once needs an idempotent sink keyed
    downstream, e.g. tables.merge_upsert). Contrast
    stateful.seen_keys_dedup_stream, which remembers keys forever
    (unbounded state) for true global exactly-once-by-key.

    Works on a streaming df (state in the checkpoint, survives
    restarts) — batch callers should use plain dropDuplicates, which
    is also the oracle shape for the first-batch semantics."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )
