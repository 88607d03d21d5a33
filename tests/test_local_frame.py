"""``session.local_frame``: driver-held rows as a ``LocalTableScan``.

The helper must give the same rows and schema as
``createDataFrame(<python list>, schema)`` for every schema the ingest
path builds, and it must be the only way the package turns driver
rows into a DataFrame."""

import ast
import pathlib
from datetime import datetime

import pytest

from ulh_etl_spark.session import local_frame
from ulh_etl_spark.sinks.logs import LOG_SCHEMA
from ulh_etl_spark.state import _SCHEMA as WATERMARK_SCHEMA

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "ulh_etl_spark"

CASES = {
    "log": (
        [
            ("id-1", "RAW", "r1", "p1", "adcs", "appts", "SUCCESS", 10, 10,
             datetime(2026, 3, 1, 12, 0, 0, 123456),
             datetime(2026, 3, 1, 12, 0, 1, 999999), 1.876543, ""),
            ("id-2", "RAW", "r2", "p1", "adcs", "appts", "FAILED", 0, 0,
             datetime(1999, 12, 31, 23, 59, 59), datetime(2000, 1, 1), 1.0,
             "boom: 'quoted' \"text\""),
        ],
        LOG_SCHEMA,
    ),
    "watermark": (
        [("REFINED:raw_t", "run-a", datetime(2026, 1, 2, 3, 4, 5, 6))],
        WATERMARK_SCHEMA,
    ),
    "api_records": (
        [("1", None, '{"a": [1, 2]}'), ("2", "x", None)],
        "`id` string, `name with space` string, `nested` string",
    ),
    "empty": ([], WATERMARK_SCHEMA),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_list_built_frame(spark, case):
    rows, schema = CASES[case]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    # naive UTC datetimes round-trip exactly (microseconds included)
    assert got.collect() == want.collect()
    assert [tuple(r) for r in got.collect()] == rows


def test_local_frame_plans_as_local_table_scan(spark):
    rows, schema = CASES["log"]
    plan = local_frame(spark, rows, schema)._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_no_list_built_frames_outside_local_frame():
    """Every ``createDataFrame(...)`` call in the package sits inside
    ``session.local_frame``: a list-built frame plans as a Python RDD
    scan whose every action runs Python-worker tasks."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "local_frame" \
                    and path.name == "session.py":
                allowed |= {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(PACKAGE.parent)}:{node.lineno}")
    assert offenders == []
