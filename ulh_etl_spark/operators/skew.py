"""Skew-handling join utilities.

AQE's skew-join splitting (enabled in session.py) handles most skew at
runtime by splitting oversized partitions. Salting is the explicit
fallback for the pathological case AQE can't fix: a single join key so
hot that ONE key's rows exceed an executor (the classic null-key /
default-value hotspot in a 100 TB fact table).

``salted_join``: fact side gets a random-ish salt in [0, n); the
dimension side is replicated n times (one row per salt value); the
join key becomes (key, salt), spreading each hot key across n tasks.
Replication multiplies the small side by n — use for large-ish
dimension joins where broadcast doesn't fit and AQE still leaves a
straggler. The salt is derived deterministically from fact columns
(hash of all columns) so results are reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALT_COL = "_salt"


def with_salt(df: DataFrame, n: int) -> DataFrame:
    """Deterministic salt in [0, n): hash of the whole row — uniform
    without requiring a random seed (reproducible plans/tests)."""
    return df.withColumn(
        _SALT_COL, F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(n))
    )


def replicate_for_salt(df: DataFrame, n: int) -> DataFrame:
    """Explode the dimension side into n copies, one per salt value."""
    return df.withColumn(
        _SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str],
    num_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join resilient to hot keys: join on (keys + salt) with the
    fact salted and the dim replicated. Output columns = fact's plus
    dim's non-key columns (the salt is dropped)."""
    f = with_salt(fact, num_salts)
    d = replicate_for_salt(dim, num_salts)
    joined = f.join(d, on + [_SALT_COL], how)
    return joined.drop(_SALT_COL)
