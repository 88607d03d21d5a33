"""Declarative ingest-config model — the engine's "practice config".

The reference's runtime behavior is driven by one JSON document
(reference SF_Notebooks/practice_ingest_config.json, 2,691 lines): a
list of tenants ("practices"), each with 1..n ingest entries that
declare the source, pre-flight validation contract, refined-stage
transforms, curated-stage column mappings, lookups, filters, and sink
behavior. This module is the typed, engine-side model of that shape
(SURVEY §7.1 `config.py`).

Configs are small (~100s of KB): parsed with ``json.load`` on the
driver. (The reference parses them *inside the warehouse* with
LATERAL FLATTEN — RAW_ADLS_TO_RAW_SNOWFLAKE.py:551-609 — purely
because Snowpark made that convenient; a driver-side parse is the
honest Spark equivalent and the engine's only config parser.)

Secrets are modeled as named aliases resolved from the environment at
runtime — never inline values (the config declares *which* secret,
e.g. ``{"secret_alias": "ellkay_client_key"}``).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any


@dataclass
class PrecheckContract:
    """Pre-flight schema/row-count contract for one feed (reference
    config `precheck` blocks, practice_ingest_config.json:24-67)."""

    expected_columns: list[str] = field(default_factory=list)
    require_all_columns: bool = True
    allow_extra_columns: bool = False
    case_sensitive_headers: bool = False
    min_row_count: int = 0
    max_row_count: int | None = None


@dataclass
class SourceSpec:
    """Where a feed's data comes from.

    kind='file': CSV/TXT(.gz) under ``directory`` matching ``pattern``
    (regex), parsed with ``delimiter``; the codec follows the file
    extension. kind='query': ``query`` SQL over registered views.
    kind='http': the fetch pattern ``options["pattern"]`` names, with
    its pattern-specific ``options``.
    """

    kind: str = "file"  # file | query | http
    directory: str | None = None
    pattern: str | None = None
    delimiter: str = ","
    query: str | None = None
    options: dict[str, Any] = field(default_factory=dict)


@dataclass
class LookupSpec:
    """Curated-stage lookup join (reference J1/J2): LEFT JOIN
    ``table`` on ``keys`` (source col -> lookup col), optionally
    pulling ``select`` columns into the output."""

    table: str
    keys: dict[str, str] = field(default_factory=dict)
    select: dict[str, str] = field(default_factory=dict)  # lookup col -> out alias


@dataclass
class IngestEntry:
    """One feed: source -> raw -> refined -> curated declarations."""

    name: str
    source: SourceSpec = field(default_factory=SourceSpec)
    precheck: PrecheckContract | None = None
    raw_table: str | None = None
    refined_table: str | None = None
    curated_table: str | None = None
    # refined-stage transforms: [{kind, column, params}] —
    # ulh_etl_spark.functions.transforms.TransformSpec
    transforms: list[dict] = field(default_factory=list)
    # curated-stage mappings: ulh_etl_spark.functions.mapping.ColumnMapping
    curated_mapping: list[dict] = field(default_factory=list)
    # curated-stage source filter: [{column, operator, value}]
    source_filter: list[dict] = field(default_factory=list)
    future_only_filter: dict | None = None  # {date_col, time_col?}
    lookups: list[LookupSpec] = field(default_factory=list)
    sync: dict[str, Any] = field(default_factory=dict)  # entity-sink options


@dataclass
class Practice:
    """One tenant."""

    practice_name: str
    active: bool = True
    ingest: list[IngestEntry] = field(default_factory=list)


@dataclass
class IngestConfig:
    practices: list[Practice] = field(default_factory=list)

    def practice(self, name: str) -> Practice:
        for p in self.practices:
            if p.practice_name.lower() == name.lower():
                return p
        raise KeyError(f"practice {name!r} not in config")

    def entries(
        self, practice_name: str, entry_name: str | None = None
    ) -> list[IngestEntry]:
        """Select ingest entries for a practice, optionally filtered
        by entry name (the reference filters on practice + file_type,
        RAW_ADLS_TO_RAW_SNOWFLAKE.py:615-624)."""
        p = self.practice(practice_name)
        out = [
            e
            for e in p.ingest
            if entry_name is None or e.name.lower() == entry_name.lower()
        ]
        return out


def _entry_from_dict(d: dict) -> IngestEntry:
    d = dict(d)
    if "source" in d and isinstance(d["source"], dict):
        d["source"] = SourceSpec(**d["source"])
    if d.get("precheck") is not None and isinstance(d["precheck"], dict):
        d["precheck"] = PrecheckContract(**d["precheck"])
    if "lookups" in d:
        d["lookups"] = [
            LookupSpec(**lk) if isinstance(lk, dict) else lk for lk in d["lookups"]
        ]
    return IngestEntry(**d)


def load_config(path_or_dict: str | dict) -> IngestConfig:
    """Parse a config JSON file (or an already-loaded dict)."""
    if isinstance(path_or_dict, str):
        with open(path_or_dict) as f:
            raw = json.load(f)
    else:
        raw = path_or_dict
    practices = []
    for p in raw.get("Practices", raw.get("practices", [])):
        entries = [_entry_from_dict(e) for e in p.get("ingest", [])]
        practices.append(
            Practice(
                practice_name=p.get("practice_name", ""),
                active=bool(p.get("active", True)),
                ingest=entries,
            )
        )
    return IngestConfig(practices=practices)
