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


def apply_mappings(df: DataFrame, mappings: list[ColumnMapping | dict]) -> DataFrame:
    """Compile every mapping and emit one projection."""
    resolver = ColumnResolver.for_df(df)
    cols = []
    for m in mappings:
        if isinstance(m, dict):
            m = ColumnMapping(**m)
        cols.append(m.compile(resolver))
    return df.select(*cols)
