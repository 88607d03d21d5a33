"""Slowly-Changing-Dimension Type 2: append-only attribute history
with (valid_from, valid_to, is_current) versioning — the warehouse
pattern behind "what did this customer's record say LAST March?".

Reference parity note: the reference tracks change with mutable
IS_VALID/IS_NEW flags (SURVEY §1.4) — which destroys history and
races under concurrency. SCD2 is the non-destructive version of the
same requirement: closing a version is an UPDATE of one row's
``valid_to``, never a delete, and every historical state stays
queryable with ``valid_from <= ts < valid_to``.

Scale shape: ``scd2_apply`` is a UNION of the open versions and the
snapshot followed by ONE window over the business key — the same
single-shuffle pattern as merge_upsert. No joins, no per-key
iteration; closed history rows pass through untouched (at scale they
live in partitions the write never rewrites).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_apply(
    history: DataFrame,
    snapshot: DataFrame,
    keys: list[str],
    attr_cols: list[str],
    eff_col: str,
) -> DataFrame:
    """Apply ``snapshot`` (one row per key, effective at ``eff_col``)
    to an SCD2 ``history`` versioned by (valid_from, valid_to,
    is_current); returns the new history.

    Per key: unchanged attrs -> open version passes through; changed
    attrs -> open version closes at the snapshot's effective time and
    a new open version begins there; unseen key -> new open version.
    Keys absent from the snapshot keep their open version (a snapshot
    is an upsert feed, not a full mirror — deletions are a separate
    op). Closed versions always pass through untouched.
    """
    open_rows = history.filter(F.col("is_current"))
    closed_rows = history.filter(~F.col("is_current"))

    # Fingerprint via JSON of a struct with nulls KEPT — concat_ws
    # silently skips NULL columns, so (NULL,'x') and ('x',NULL) (or a
    # NULL -> '' transition) would collide and version changes would
    # be missed.
    fp = F.md5(
        F.to_json(
            F.struct(*[F.col(c) for c in attr_cols]),
            {"ignoreNullFields": "false"},
        )
    )
    o = open_rows.select(
        *keys,
        *attr_cols,
        F.col("valid_from"),
        F.lit(0).alias("_prio"),
        fp.alias("_fp"),
        F.lit(None).cast("timestamp").alias("_eff"),
    )
    s = snapshot.select(
        *keys,
        *attr_cols,
        F.col(eff_col).cast("timestamp").alias("_eff"),
    ).select(
        "*",
        F.col("_eff").alias("valid_from"),
        F.lit(1).alias("_prio"),
        fp.alias("_fp"),
    )
    u = o.unionByName(s.select(*o.columns))

    wk = Window.partitionBy(*keys)
    fp0 = F.max(F.when(F.col("_prio") == 0, F.col("_fp"))).over(wk)
    fp1 = F.max(F.when(F.col("_prio") == 1, F.col("_fp"))).over(wk)
    eff1 = F.max(F.when(F.col("_prio") == 1, F.col("_eff"))).over(wk)
    changed = fp0.isNotNull() & fp1.isNotNull() & (fp0 != fp1)

    annotated = u.select(
        "*",
        changed.alias("_changed"),
        fp0.alias("_fp0"),
        fp1.alias("_fp1"),
        eff1.alias("_eff1"),
    )
    keep = (F.col("_prio") == 0) | (
        (F.col("_prio") == 1) & (F.col("_fp0").isNull() | F.col("_changed"))
    )
    out = annotated.filter(keep).select(
        *keys,
        *attr_cols,
        F.col("valid_from"),
        F.when((F.col("_prio") == 0) & F.col("_changed"), F.col("_eff1"))
        .otherwise(F.lit(None).cast("timestamp"))
        .alias("valid_to"),
        (~((F.col("_prio") == 0) & F.col("_changed"))).alias("is_current"),
    )
    return closed_rows.select(*out.columns).unionByName(out)
