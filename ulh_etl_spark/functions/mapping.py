"""CURATED-stage column-mapping compiler (reference K3's expression
builder, REFINED_SNOWFLAKE_TO_CURATED_SNOWFLAKE.py:1309-1366).

Each curated column is declared in config as one of:
  - ``source``: a single source column (optionally value-mapped /
    prefixed / suffixed — F16)
  - ``concat`` of several source columns with a separator (F5,
    null-filling variant :1344-1351)
  - ``coalesce`` of source columns, first non-null wins (F6, :1352-1354)
  - ``literal`` constant (F15)
  - ``dummy_key``: natural key with surrogate fallback (F17)

The compiler emits one ``Column`` per target so the whole curated
SELECT is a single Catalyst projection — on a cluster this is a
narrow, codegen'd map stage with zero shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ulh_etl_spark.functions.transforms import concat_mapping, dummy_key, value_map
from ulh_etl_spark.resolve import ColumnResolver
from ulh_etl_spark.session import local_frame


@dataclass
class ColumnMapping:
    target: str
    kind: str = "source"  # source | concat | coalesce | literal | dummy_key
    source: str | None = None
    sources: list[str] = field(default_factory=list)
    separator: str = " "
    null_fill: bool = True
    literal: str | None = None
    mapping: dict[str, str] = field(default_factory=dict)
    prefix: str = ""
    suffix: str = ""
    fallback: str | None = None  # dummy_key fallback column
    marker: str = "NOMBI_"

    def compile(self, resolver: ColumnResolver) -> Column:
        if self.kind == "literal":
            return F.lit(self.literal).alias(self.target)
        if self.kind == "source":
            col = F.col(resolver.resolve_or_raise(self.source))
            if self.mapping or self.prefix or self.suffix:
                col = value_map(col, self.mapping, self.prefix, self.suffix)
            return col.alias(self.target)
        if self.kind == "concat":
            cols = [F.col(resolver.resolve_or_raise(s)) for s in self.sources]
            return concat_mapping(cols, self.separator, self.null_fill).alias(self.target)
        if self.kind == "coalesce":
            cols = [F.col(resolver.resolve_or_raise(s)) for s in self.sources]
            return F.coalesce(*cols).alias(self.target)
        if self.kind == "dummy_key":
            key = F.col(resolver.resolve_or_raise(self.source))
            fb = F.col(resolver.resolve_or_raise(self.fallback))
            return dummy_key(key, fb, self.marker).alias(self.target)
        raise ValueError(f"unknown mapping kind {self.kind!r}")


def broadcast_value_map(
    df: DataFrame,
    column: str,
    mapping: dict[str, str],
    case_insensitive_fallback: bool = True,
) -> DataFrame:
    """Value-map via broadcast join — the scale path for large maps
    where the chained-CASE form (transforms.value_map) would compile a
    thousand-branch expression. Same semantics: exact match wins, then
    case-insensitive, else pass-through.

    Two broadcast left joins (exact, then case-insensitive) keep
    output cardinality identical to the input even when a value
    matches multiple keys; on a case-insensitive collision the
    lexicographically smallest key's value wins (deterministic).
    """
    spark = df.sparkSession
    exact = local_frame(
        spark, list(mapping.items()), "_vm_key string, _vm_val string"
    )
    # remember the ORIGINAL value's case-fold and whether the exact
    # pass hit, so the fallback never re-maps an already-mapped value
    out = (
        df.withColumn("_vm_lc", F.lower(F.col(column)))
        .join(F.broadcast(exact), F.col(column) == F.col("_vm_key"), "left")
        .withColumn("_vm_hit", F.col("_vm_val").isNotNull())
        .withColumn(column, F.coalesce(F.col("_vm_val"), F.col(column)))
        .drop("_vm_key", "_vm_val")
    )
    if case_insensitive_fallback:
        ci_pairs: dict[str, tuple[str, str]] = {}
        for k, v in mapping.items():
            lc = k.lower()
            if lc not in ci_pairs or k < ci_pairs[lc][0]:
                ci_pairs[lc] = (k, v)
        ci = local_frame(
            spark,
            [(lc, v) for lc, (_, v) in ci_pairs.items()],
            "_vm_key_lc string, _vm_val string",
        )
        out = out.join(
            F.broadcast(ci), F.col("_vm_lc") == F.col("_vm_key_lc"), "left"
        ).withColumn(
            column,
            F.when(
                ~F.col("_vm_hit") & F.col("_vm_val").isNotNull(), F.col("_vm_val")
            ).otherwise(F.col(column)),
        ).drop("_vm_key_lc", "_vm_val")
    return out.drop("_vm_lc", "_vm_hit")


def apply_mappings(df: DataFrame, mappings: list[ColumnMapping | dict]) -> DataFrame:
    """Compile every mapping and emit one projection."""
    resolver = ColumnResolver.for_df(df)
    cols = []
    for m in mappings:
        if isinstance(m, dict):
            m = ColumnMapping(**m)
        cols.append(m.compile(resolver))
    return df.select(*cols)
