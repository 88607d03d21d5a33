"""Pre-flight file validation — the precheck suite (SURVEY §2.8;
reference ADLS_FILE_PRECHECK.py:753-1152).

Config-driven, per-file data contracts evaluated BEFORE load: file
size, readability, BOM, header hygiene, column presence/order, row
counts, delimiter consistency. Each check yields a structured
PASS/FAIL/WARN row with expected-vs-actual (reference logs the same
shape to PRECHECK_INGEST_LOG, :187-237).

Execution model: the raw header + sample lines are read on the driver
through a Hadoop stream (any filesystem, codec-aware, no Spark job);
the checks themselves are driver-side logic over those few lines plus
a physical line count. The line counts of a whole landing come from
ONE distributed job (``count_lines`` over every file), not one per
file — the reference's split of LIMIT 1/11 probes + COUNT(*)
(:789-824,1050-1057) without its per-file scans.
"""

from __future__ import annotations

import csv as _csv
import io
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from ulh_etl_spark.config import PrecheckContract
from ulh_etl_spark.sources.files import FileInfo, head_lines

# Characters forbidden in headers (reference :102-113): control chars,
# quotes, SQL-comment introducers.
_FORBIDDEN_HEADER_CHARS = ("\x00", "\r", "\n", "\t", '"', "'", ";")
_FORBIDDEN_HEADER_SEQS = ("--", "/*")
_MAX_HEADER_LEN = 128
# Data lines read after the header (reference LIMIT 11, :798-824).
_SAMPLE_ROWS = 10

_BOMS = {
    b"\xef\xbb\xbf": "UTF-8",
    b"\xff\xfe\x00\x00": "UTF-32-LE",
    b"\x00\x00\xfe\xff": "UTF-32-BE",
    b"\xff\xfe": "UTF-16-LE",
    b"\xfe\xff": "UTF-16-BE",
}


@dataclass
class CheckResult:
    check: str
    status: str  # PASS | FAIL | WARN
    expected: str = ""
    actual: str = ""
    message: str = ""


@dataclass
class PrecheckReport:
    file: str
    results: list[CheckResult] = field(default_factory=list)

    @property
    def passed(self) -> bool:
        return all(r.status != "FAIL" for r in self.results)

    def add(self, *args, **kwargs) -> None:
        self.results.append(CheckResult(*args, **kwargs))


def _parse_csv_line(line: str, delimiter: str) -> list[str]:
    """Quoted-field-aware single-line parse (reference F20 uses
    ``csv.reader`` the same way, ADLS_FILE_PRECHECK.py:875-885)."""
    return next(_csv.reader(io.StringIO(line), delimiter=delimiter))


def strip_bom(line: str) -> tuple[str, str | None]:
    """(``line`` as Spark's text and CSV readers load it, the name of
    the byte-order mark it starts with or None).

    ``line`` may carry raw bytes as surrogate escapes (``head_lines``).
    The readers drop a UTF-8 BOM (Hadoop's ``LineRecordReader``) and
    load any other as U+FFFD characters in the first field, so the
    header is checked as the RAW load will name its columns."""
    raw = line.encode("utf-8", errors="surrogateescape")
    name = next((n for bom, n in _BOMS.items() if raw.startswith(bom)), None)
    if name == "UTF-8":
        raw = raw[3:]
    return raw.decode("utf-8", errors="replace"), name


def precheck_file(
    spark: SparkSession,
    file: FileInfo,
    contract: PrecheckContract,
    line_count: int,
    delimiter: str = ",",
) -> PrecheckReport:
    """Run the full §2.8 check suite against one staged file.
    ``line_count`` is the file's physical line count, from one
    ``count_lines`` job over the whole landing."""
    rpt = PrecheckReport(file=file.path)

    # FILE_SIZE (:771-780)
    if file.size > 0:
        rpt.add("FILE_SIZE", "PASS", "> 0 bytes", str(file.size))
    else:
        rpt.add("FILE_SIZE", "FAIL", "> 0 bytes", "0", "empty file")
        return rpt

    # FILE_READ (:785-831) — header + sample must be readable
    try:
        lines = head_lines(spark, file.path, _SAMPLE_ROWS + 1)
    except Exception as e:  # unreadable/corrupt
        rpt.add("FILE_READ", "FAIL", "readable", "error", str(e)[:200])
        return rpt
    if not lines:
        rpt.add("FILE_READ", "FAIL", ">= 1 line", "0", "no lines")
        return rpt
    rpt.add("FILE_READ", "PASS", f"header+{_SAMPLE_ROWS} sample", str(len(lines)))

    # BOM_CHECK (:846-872) — WARN; head_lines keeps the raw BOM bytes
    # that Spark's text reader drops.
    header_line, bom = strip_bom(lines[0])
    if bom:
        rpt.add("BOM_CHECK", "WARN", "no BOM", bom, "BOM stripped before parsing")
    else:
        rpt.add("BOM_CHECK", "PASS", "no BOM", "none")

    # HEADER_CHARACTERS (:897-941)
    try:
        headers = _parse_csv_line(header_line, delimiter)
    except Exception as e:
        rpt.add("HEADER_CHARACTERS", "FAIL", "parseable header", "error", str(e)[:200])
        return rpt
    bad: list[str] = []
    for h in headers:
        if h == "" or h != h.strip():
            bad.append(repr(h))
        elif len(h) > _MAX_HEADER_LEN:
            bad.append(f"{h[:20]}...(len {len(h)})")
        elif any(c in h for c in _FORBIDDEN_HEADER_CHARS) or any(
            s in h for s in _FORBIDDEN_HEADER_SEQS
        ):
            bad.append(h)
        elif not h.isascii() or not h.isprintable():
            bad.append(h)
    if bad:
        rpt.add("HEADER_CHARACTERS", "FAIL", "clean headers", "; ".join(bad[:5]))
    else:
        rpt.add("HEADER_CHARACTERS", "PASS", "clean headers", f"{len(headers)} columns")

    expected = list(contract.expected_columns)
    if expected:
        if contract.case_sensitive_headers:
            actual_cmp, expected_cmp = headers, expected
        else:
            actual_cmp = [h.lower() for h in headers]
            expected_cmp = [c.lower() for c in expected]

        # COLUMN_COUNT (:964-984) — FAIL only when columns are MISSING
        # under require_all_columns; surplus columns are EXTRA_COLUMNS'
        # concern (allow_extra_columns may admit them).
        if len(headers) == len(expected):
            rpt.add("COLUMN_COUNT", "PASS", str(len(expected)), str(len(headers)))
        elif len(headers) < len(expected) and contract.require_all_columns:
            rpt.add("COLUMN_COUNT", "FAIL", str(len(expected)), str(len(headers)))
        else:
            rpt.add("COLUMN_COUNT", "WARN", str(len(expected)), str(len(headers)))

        # MISSING_COLUMNS (:987-1005)
        missing = [e for e in expected_cmp if e not in actual_cmp]
        if missing:
            status = "FAIL" if contract.require_all_columns else "WARN"
            rpt.add("MISSING_COLUMNS", status, "none", ", ".join(missing[:10]))
        else:
            rpt.add("MISSING_COLUMNS", "PASS", "none", "none")

        # EXTRA_COLUMNS (:1008-1021)
        extra = [a for a in actual_cmp if a not in expected_cmp]
        if extra:
            status = "WARN" if contract.allow_extra_columns else "FAIL"
            rpt.add("EXTRA_COLUMNS", status, "none", ", ".join(extra[:10]))
        else:
            rpt.add("EXTRA_COLUMNS", "PASS", "none", "none")

        # COLUMN_ORDER (:1024-1040) — positional, WARN only
        mismatches = [
            f"{i}:{a}!={e}"
            for i, (a, e) in enumerate(zip(actual_cmp, expected_cmp))
            if a != e
        ]
        if mismatches:
            rpt.add("COLUMN_ORDER", "WARN", "declared order", "; ".join(mismatches[:5]))
        else:
            rpt.add("COLUMN_ORDER", "PASS", "declared order", "matches")

    # MIN/MAX_ROW_COUNT (:1050-1093) — data rows = physical lines - 1
    data_rows = max(line_count - 1, 0)
    if data_rows < contract.min_row_count:
        rpt.add("MIN_ROW_COUNT", "FAIL", f">= {contract.min_row_count}", str(data_rows))
    else:
        rpt.add("MIN_ROW_COUNT", "PASS", f">= {contract.min_row_count}", str(data_rows))
    if contract.max_row_count is not None:
        if data_rows > contract.max_row_count:
            rpt.add(
                "MAX_ROW_COUNT", "FAIL", f"<= {contract.max_row_count}", str(data_rows)
            )
        else:
            rpt.add(
                "MAX_ROW_COUNT", "PASS", f"<= {contract.max_row_count}", str(data_rows)
            )

    # DELIMITER_CONSISTENCY (:1098-1124) — first 5 data rows parse to
    # the header's field count
    n_fields = len(headers)
    bad_rows = []
    for i, line in enumerate(lines[1:6], start=1):
        try:
            row = _parse_csv_line(line, delimiter) if line else []
        except Exception:
            bad_rows.append(f"row {i}: unparseable")
            continue
        if len(row) != n_fields:
            bad_rows.append(f"row {i}: {len(row)} fields")
    if bad_rows:
        rpt.add(
            "DELIMITER_CONSISTENCY", "FAIL", f"{n_fields} fields", "; ".join(bad_rows)
        )
    else:
        rpt.add("DELIMITER_CONSISTENCY", "PASS", f"{n_fields} fields", "consistent")

    return rpt
