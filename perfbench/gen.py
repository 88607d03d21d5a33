"""Seeded generator for the ingest workload, paired with an exact model
of what the pipeline, the entity sink and the API ingest must produce.

One ``PracticeGen`` drives one run: ``landing(i)`` writes the i-th
landing's CSV files and returns a ``Landing`` holding the expected
outcome; ``commit(landing)`` advances the model (curated keys, mirror
keys) once the landing has been checked. The same seed gives the same
files and the same expectations.
"""

from __future__ import annotations

import csv
import io
import os
import random
from dataclasses import dataclass, field

PRACTICE = "benchprac"
ENTRY = "appointments"
API_PRACTICE = "benchapi"
API_ENTRY = "patients"
API_TABLE = "raw_zone.benchapi_patients"
CURATED_TABLE = f"curated_zone.{PRACTICE}_{ENTRY}"
MIRROR_TABLE = "entity_mirror_appointments"

HEADER = ["appt_id", "patient_name", "appt_date", "appt_time", "location",
          "eligible", "member_id"]
OFFICES = {  # office_mappings rows; the other locations miss the lookup
    "NORTH CLINIC": "Office North",
    "SOUTH CLINIC": "Office South",
    "EAST CLINIC": "Office East",
}
LOCATIONS = sorted(OFFICES) + ["WEST CLINIC", "MOBILE UNIT"]
FIRST = ["Alice", "Bob", "Carol", "Dan", "Erin", "Frank", "Grace", "Hal",
         "Ivy", "Jon", "Kim", "Lee", "Mia", "Ned", "Oda", "Pat"]
LAST = ["Smith", "Jones", "Wu", "Lee", "Garcia", "Khan", "Novak", "Okafor",
        "Rossi", "Silva", "Tanaka", "Weber"]


@dataclass(frozen=True)
class Shape:
    """How the workload's landings look."""

    # rows of each well-formed CSV file of a landing, fixed so that the
    # seed changes content, not size; the last file is BOM-prefixed, and
    # one malformed file is added
    file_rows: tuple[int, ...]
    reuse_share: float        # share of rows re-using an already curated key
    api_pages: int            # pages served by the fake patient API
    api_page_rows: int

    @property
    def files(self) -> int:
        return len(self.file_rows) + 1


@dataclass
class Landing:
    index: int
    loaded: list[str]
    rejected: list[str]
    raw_rows: int
    # MBI -> (FULLNAME, APPT_TS, OFFICE) of the rows that reach CURATED
    curated: dict[str, tuple[str, str, str]]
    new: int = 0
    update: int = 0
    api_pages: list[list[dict]] = field(default_factory=list)

    @property
    def record_types(self) -> dict[str, int]:
        return {k: v for k, v in (("NEW", self.new), ("UPDATE", self.update)) if v}

    @property
    def api_rows(self) -> int:
        return sum(len(p) for p in self.api_pages)


def practice_config(inbound: str) -> dict:
    """The practice config the ingest workload runs: a file feed with a
    precheck contract, three refined transforms, an eligibility filter,
    the future-only filter, an office lookup and a curated mapping; plus
    an API practice with one token-paginated endpoint."""
    return {"Practices": [
        {
            "practice_name": PRACTICE,
            "ingest": [{
                "name": ENTRY,
                "source": {"kind": "file", "directory": inbound,
                           "pattern": r".*\.csv$", "delimiter": ","},
                "precheck": {"expected_columns": HEADER, "min_row_count": 1},
                "transforms": [
                    {"kind": "strip", "column": "appt_id", "chars": "{}"},
                    {"kind": "split_reorder", "column": "patient_name",
                     "sep": ",", "part_order": [1, 0], "join_with": " "},
                    {"kind": "regex_replace", "column": "location", "rules": [
                        {"match_substring": "UNIT", "search": " UNIT$",
                         "replace": " VAN"}]},
                ],
                "source_filter": [
                    {"column": "eligible", "operator": "=", "value": "Y"}],
                "future_only_filter": {"date_col": "APPT_DATE",
                                       "time_col": "APPT_TIME"},
                "lookups": [{"table": "office_mappings",
                             "keys": {"LOCATION": "emr_location"},
                             "select": {"assigned_office": "OFFICENAME"}}],
                "curated_mapping": [
                    {"target": "MBI", "kind": "dummy_key",
                     "source": "MEMBER_ID", "fallback": "APPT_ID"},
                    {"target": "FULLNAME", "kind": "source",
                     "source": "PATIENT_NAME"},
                    {"target": "APPT_TS", "kind": "concat",
                     "sources": ["APPT_DATE", "APPT_TIME"], "separator": " "},
                    {"target": "OFFICE", "kind": "coalesce",
                     "sources": ["OFFICENAME", "LOCATION"]},
                    {"target": "SOURCE_SYSTEM", "kind": "literal",
                     "literal": PRACTICE},
                    {"target": "REFINED_PARENT_RUN_ID", "kind": "source",
                     "source": "REFINED_PARENT_RUN_ID"},
                ],
                "sync": {"keys": ["MBI"]},
            }],
        },
        {
            "practice_name": API_PRACTICE,
            "ingest": [{
                "name": API_ENTRY,
                "source": {"kind": "http", "options": {
                    "pattern": "paginated",
                    "begin_url": "fake://patients/begin",
                    "next_url": "fake://patients/next"}},
                "raw_table": API_TABLE,
            }],
        },
    ]}


def office_rows() -> list[tuple[str, str]]:
    return sorted(OFFICES.items())


def _csv_text(rows: list[list[str]]) -> str:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(HEADER)
    w.writerows(rows)
    return buf.getvalue()


class PracticeGen:
    def __init__(self, seed: int, shape: Shape):
        self.seed = seed
        self.shape = shape
        self.curated_keys: set[str] = set()  # == the entity mirror's keys
        self._reusable: list[str] = []       # member-id keys already curated
        self._next_key = 0

    def _row(self, rng: random.Random, landing: int, file: int, i: int,
             reuse: list[str]):
        appt_id = f"A{landing:03d}{file:03d}{i:05d}"
        first, last = rng.choice(FIRST), rng.choice(LAST)
        future = rng.random() < 0.9
        date = f"{2099 if future else 1999}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
        time = f"{rng.randint(7, 17):02d}:{rng.choice(('00', '15', '30', '45'))}"
        location = rng.choice(LOCATIONS)
        eligible = "Y" if rng.random() < 0.85 else "N"
        if reuse and rng.random() < self.shape.reuse_share:
            member = reuse.pop()
        elif rng.random() < 0.05:
            member = ""  # blank key -> NOMBI_<appt_id> surrogate
        else:
            self._next_key += 1
            member = f"M{self.seed % 100000:05d}{self._next_key:08d}"
        raw = ["{" + appt_id + "}", f"{last}, {first}", date, time, location,
               eligible, member]
        mbi = member or f"NOMBI_{appt_id}"
        loc = location[: -len(" UNIT")] + " VAN" if location.endswith(" UNIT") else location
        out = None
        if eligible == "Y" and future:
            out = (mbi, (f"{first} {last}", f"{date} {time}", OFFICES.get(loc, loc)))
        return raw, out

    def landing(self, index: int, inbound: str) -> Landing:
        """Write landing ``index`` into ``inbound`` and model it."""
        rng = random.Random(f"{self.seed}:{index}")
        reuse = self._reusable[:]
        rng.shuffle(reuse)
        os.makedirs(inbound, exist_ok=True)
        files: dict[str, str] = {}
        curated: dict[str, tuple[str, str, str]] = {}
        raw_rows = 0
        bom_file = len(self.shape.file_rows) - 1
        for f, n_rows in enumerate(self.shape.file_rows):
            rows = []
            for i in range(n_rows):
                raw, out = self._row(rng, index, f, i, reuse)
                rows.append(raw)
                if out:
                    curated[out[0]] = out[1]
            raw_rows += len(rows)
            text = _csv_text(rows)
            if f == bom_file:
                files[f"appts_{index:03d}_bom.csv"] = "\ufeff" + text
            else:
                files[f"appts_{index:03d}_{f:03d}.csv"] = text
        bad = f"appts_{index:03d}_bad.csv"
        files[bad] = "appt_id,wrong_column\n{A0},x\n"
        rejected = [bad]
        for name, text in files.items():
            with open(os.path.join(inbound, name), "w", encoding="utf-8") as fh:
                fh.write(text)
        new = sum(1 for k in curated if k not in self.curated_keys)
        pages = [
            [{"patientId": f"P{index:03d}{p:03d}{r:04d}",
              "name": f"{rng.choice(FIRST)} {rng.choice(LAST)}",
              "updatedAt": f"2099-01-{rng.randint(1, 28):02d}"}
             for r in range(self.shape.api_page_rows)]
            for p in range(self.shape.api_pages)
        ]
        return Landing(
            index=index,
            loaded=sorted(n for n in files if n not in rejected),
            rejected=rejected,
            raw_rows=raw_rows,
            curated=curated,
            new=new,
            update=len(curated) - new,
            api_pages=pages,
        )

    def commit(self, landing: Landing) -> None:
        for k in landing.curated:
            if k not in self.curated_keys:
                self.curated_keys.add(k)
                if not k.startswith("NOMBI_"):
                    self._reusable.append(k)
