"""REFINED-stage column transforms, compiled to Catalyst expressions.

These reproduce the reference's config-driven transform vocabulary
(SURVEY §2.7) as pure ``Column`` builders:

- ``column_regex_replace`` — conditional regex-replace chain, reference
  RAW_SNOWFLAKE_TO_REFINED_SNOWFLAKE.py:440-470 (rules chained
  first-match-wins via CASE).
- ``split_reorder`` — split / pick parts by index / trim / rejoin,
  reference RAW_SNOWFLAKE_TO_REFINED_SNOWFLAKE.py:503-538.
- ``column_strip`` — remove a character set, reference
  RAW_SNOWFLAKE_TO_REFINED_SNOWFLAKE.py:551-590.
- ``value_map`` — dict remap with case-insensitive fallback plus
  prefix/suffix, reference REFINED_SNOWFLAKE_TO_CURATED_SNOWFLAKE.py:446-468.
- ``dummy_key`` — missing-key synthesis ('NOMBI_' + fallback), reference
  REFINED_SNOWFLAKE_TO_CURATED_SNOWFLAKE.py:770-779,941-946.
- ``concat_mapping`` — null-filling separator concat, reference
  REFINED_SNOWFLAKE_TO_CURATED_SNOWFLAKE.py:1344-1351.

All builders are JVM-side expressions (regexp_replace / split / when /
concat_ws ...) so they run inside whole-stage codegen at any scale —
no Python in the row path.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F


@dataclass
class RegexRule:
    """One conditional replace rule: when the value contains
    ``match_substring``, apply ``regexp_replace(search, replace)``."""

    search: str
    replace: str
    match_substring: str | None = None


def column_regex_replace(col: Column, rules: list[RegexRule]) -> Column:
    """First-match-wins chain of conditional regex replaces.

    Semantics (reference :440-470): each rule guards on a LIKE
    '%substring%' containment test; the FIRST matching rule's
    replacement is applied and later rules are skipped; if no rule
    matches the value passes through unchanged. A rule with no
    ``match_substring`` matches unconditionally.
    """
    expr: Column | None = None
    for rule in rules:
        replaced = F.regexp_replace(col, rule.search, rule.replace)
        if rule.match_substring is None:
            cond = F.lit(True)
        else:
            cond = col.contains(rule.match_substring)
        expr = F.when(cond, replaced) if expr is None else expr.when(cond, replaced)
    if expr is None:
        return col
    return expr.otherwise(col)


def split_reorder(
    col: Column,
    sep: str,
    part_order: list[int],
    join_with: str = " ",
    trim_parts: bool = True,
) -> Column:
    """Split on ``sep``, select parts by 0-based index, optionally trim
    each part, rejoin with ``join_with``.

    Out-of-range indexes yield NULL parts (Snowflake ``split[i]``
    semantics, SURVEY §7.4) which ``concat_ws`` then skips —
    ``F.get`` (null on out-of-range) reproduces this exactly.
    """
    parts = F.split(col, re.escape(sep))
    picked = [F.get(parts, i) for i in part_order]
    if trim_parts:
        picked = [F.trim(p) for p in picked]
    return F.concat_ws(join_with, *picked)


def column_strip(col: Column, chars: str) -> Column:
    """Remove every occurrence of each character in ``chars`` (e.g.
    strip ``{}`` from GUID-ish ids) via one character-class regex."""
    cls = "[" + re.escape(chars) + "]"
    return F.regexp_replace(col, cls, "")


def value_map(
    col: Column,
    mapping: dict[str, str],
    prefix: str = "",
    suffix: str = "",
) -> Column:
    """Dict remap of a column's value, then prefix/suffix concat.

    Exact match or a lowercased match (the reference probes the dict
    with the raw value, then value.lower()); the first key in mapping
    order that matches wins. Unmapped values pass through unchanged
    (still prefixed/suffixed). Compiled as one chained CASE, so the
    whole map stays inside the curated projection's codegen.
    """
    expr: Column | None = None
    for k, v in mapping.items():
        cond = (col == F.lit(k)) | (F.lower(col) == F.lit(k.lower()))
        expr = F.when(cond, F.lit(v)) if expr is None else expr.when(cond, F.lit(v))
    mapped = col if expr is None else expr.otherwise(col)
    if prefix or suffix:
        mapped = F.concat(F.lit(prefix), mapped, F.lit(suffix))
    return mapped


def dummy_key(key_col: Column, fallback_col: Column, marker: str = "NOMBI_") -> Column:
    """Synthesize a surrogate key when the natural key is null/blank:
    ``marker + fallback`` (reference's missing-MBI path)."""
    blank = key_col.isNull() | (F.trim(key_col) == "")
    return F.when(blank, F.concat(F.lit(marker), fallback_col.cast("string"))).otherwise(
        key_col
    )


def concat_mapping(cols: list[Column], sep: str, null_fill: bool = True) -> Column:
    """Separator concat of several columns.

    ``null_fill=True`` reproduces the curated SQL path
    ``CONCAT(COALESCE(a,''),'sep',COALESCE(b,''))`` (separator kept even
    when a side is null); ``null_fill=False`` is plain ``concat_ws``
    (null parts and their separators dropped) matching the Dataverse
    row-mapper variant (reference :427-435). SURVEY §7.4 calls out this
    divergence — both variants are first-class here.
    """
    if null_fill:
        filled: list[Column] = []
        for i, c in enumerate(cols):
            if i:
                filled.append(F.lit(sep))
            filled.append(F.coalesce(c, F.lit("")))
        return F.concat(*filled)
    return F.concat_ws(sep, *cols)


@dataclass
class TransformSpec:
    """One config-declared transform against one column (the refined
    stage applies these in declaration order, overwriting in place —
    reference :470,535,587)."""

    kind: str  # regex_replace | split_reorder | strip | value_map | dummy_key
    column: str
    params: dict = field(default_factory=dict)

    def compile(self, col: Column) -> Column:
        if self.kind == "regex_replace":
            rules = [RegexRule(**r) for r in self.params["rules"]]
            return column_regex_replace(col, rules)
        if self.kind == "split_reorder":
            return split_reorder(
                col,
                self.params["sep"],
                self.params["part_order"],
                self.params.get("join_with", " "),
                self.params.get("trim_parts", True),
            )
        if self.kind == "strip":
            return column_strip(col, self.params["chars"])
        if self.kind == "value_map":
            return value_map(
                col,
                self.params["mapping"],
                self.params.get("prefix", ""),
                self.params.get("suffix", ""),
            )
        raise ValueError(f"unknown transform kind {self.kind!r}")
