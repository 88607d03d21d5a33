"""Custom stateful streaming operator: per-key running aggregation
via ``applyInPandasWithState`` — the escape hatch for semantics the
built-in windowed aggregates can't express (running totals that
survive across micro-batches and restarts via checkpointed state).

Engine addition (the reference has no stateful operators, SURVEY
§2.9); the shape a streaming training-data pipeline needs for e.g.
per-source document counters or seen-key dedup.

Scale: state is partitioned by key across the cluster (same hash
shuffle as a groupBy); each micro-batch touches only the keys present
in that batch; state size is O(distinct keys), bounded by timeouts
for expiring idle keys.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def running_totals_stream(df: DataFrame) -> DataFrame:
    """Per-``user_id`` running (count, sum of ``value``) maintained in
    GroupState: each micro-batch emits the UPDATED totals for keys
    seen in that batch. Output: (user_id, total_events, total_value)."""
    import pandas as pd

    def update(
        key: Tuple[Any, ...],
        batches: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        (cnt, tot) = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            cnt += len(pdf)
            tot += float(pdf["value"].sum())
        state.update((cnt, round(tot, 6)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "total_events": [cnt], "total_value": [round(tot, 6)]}
        )

    return df.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, total_events long, total_value double",
        stateStructType="cnt long, tot double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def seen_keys_dedup_stream(
    df: DataFrame,
    key_col: str = "event_id",
) -> DataFrame:
    """Streaming exactly-once-by-key dedup: the first occurrence of a
    key passes through; replays/duplicates in later batches are
    dropped (state remembers seen keys). The streaming twin of
    dropDuplicates for unbounded inputs with checkpointed memory."""
    import pandas as pd

    def update(
        key: Tuple[Any, ...],
        batches: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        already = state.exists
        n = 0
        for pdf in batches:
            n += len(pdf)
        if not already and n > 0:
            state.update((True,))
            yield pd.DataFrame({key_col: [key[0]], "occurrences": [n]})

    return df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} long, occurrences long",
        stateStructType="seen boolean",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_zscore_stream(
    df: DataFrame,
    min_points: int = 8,
    threshold: float = 3.0,
) -> DataFrame:
    """Streaming per-``user_id`` anomaly detection over ``value`` — the
    stateful twin of operators.temporal.rolling_zscore_anomalies: each
    key's state
    carries Welford running moments (count, mean, M2), every incoming
    point is scored against the state BEFORE it is folded in (the
    baseline must not contain the point it judges), and points with
    |z| > threshold after ``min_points`` baseline points emit as
    anomalies. Unlike the batch trailing-window form, state is O(3
    doubles) per key FOREVER — no window buffer — which is what makes
    it viable for unbounded per-key streams.

    Emits ONLY anomalies (update mode): (user_id, value, zscore,
    n_baseline). Welford is numerically stable under streaming
    accumulation where the naive sum-of-squares form cancels
    catastrophically on long-running keys."""
    import math

    import pandas as pd

    def update(
        key: Tuple[Any, ...],
        batches: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        (cnt, mean, m2) = state.get if state.exists else (0, 0.0, 0.0)
        rows = []
        for pdf in batches:
            for v in pdf["value"].astype(float):
                if cnt >= min_points and m2 > 0:
                    std = math.sqrt(m2 / (cnt - 1))
                    z = (v - mean) / std
                    if abs(z) > threshold:
                        rows.append((key[0], v, round(z, 6), cnt))
                # Welford fold AFTER scoring
                cnt += 1
                d = v - mean
                mean += d / cnt
                m2 += d * (v - mean)
        state.update((cnt, mean, m2))
        if rows:
            yield pd.DataFrame(
                rows, columns=["user_id", "value", "zscore", "n_baseline"]
            )

    return df.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, value double, zscore double, "
            "n_baseline long"
        ),
        stateStructType="cnt long, mean double, m2 double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
