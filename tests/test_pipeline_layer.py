"""Tests for the config model, precheck validator, file sources,
table sinks, and watermark state — the pipeline layer (SURVEY §7.1)."""

import os

import pytest

from ulh_etl_spark.config import load_config
from ulh_etl_spark.sinks.logs import append_log, log_row, log_table_name
from ulh_etl_spark.sinks.tables import (
    insert_select,
    merge_upsert,
    table_exists,
    truncate_table,
    write_table,
)
from ulh_etl_spark.sources.files import (
    count_lines,
    csv_scan,
    head_lines,
    list_stage_files,
    move_file,
)
from ulh_etl_spark.state import mark_consumed, new_run_id, unconsumed
from ulh_etl_spark.validate import PrecheckContract, precheck_file, strip_bom


SAMPLE_CONFIG = {
    "Practices": [
        {
            "practice_name": "adcs",
            "active": True,
            "ingest": [
                {
                    "name": "appointments",
                    "source": {
                        "kind": "file",
                        "directory": "/data/adcs/appointments",
                        "pattern": r".*\.csv$",
                        "delimiter": "|",
                    },
                    "precheck": {
                        "expected_columns": ["id", "date", "patient"],
                        "require_all_columns": True,
                        "min_row_count": 1,
                    },
                    "raw_table": "raw_adcs_appointments",
                    "transforms": [
                        {"kind": "strip", "column": "id", "chars": "{}"}
                    ],
                }
            ],
        },
        {"practice_name": "inactive_one", "active": False, "ingest": []},
    ]
}


def test_config_model_roundtrip():
    cfg = load_config(SAMPLE_CONFIG)
    assert len(cfg.practices) == 2
    p = cfg.practice("ADCS")  # case-insensitive
    assert p.active
    entries = cfg.entries("adcs", "Appointments")
    assert len(entries) == 1
    e = entries[0]
    assert e.source.delimiter == "|"
    assert e.precheck.expected_columns == ["id", "date", "patient"]
    assert e.transforms[0]["kind"] == "strip"
    with pytest.raises(KeyError):
        cfg.practice("nope")


@pytest.fixture()
def stage_dir(tmp_path):
    d = tmp_path / "inbound"
    d.mkdir()
    (d / "feed_20260813.csv").write_text("id,date,patient\n1,2026-01-01,alice\n2,2026-01-02,bob\n")
    (d / "other.txt").write_text("x\n")
    return str(d)


def test_list_stage_files_pattern(spark, stage_dir):
    files = list_stage_files(spark, stage_dir, r"FEED_.*\.csv$")
    assert [f.name for f in files] == ["feed_20260813.csv"]
    assert files[0].size > 0
    assert list_stage_files(spark, stage_dir + "/missing") == []


def test_csv_scan_provenance(spark, stage_dir):
    files = list_stage_files(spark, stage_dir, r".*\.csv$")
    df = csv_scan(spark, [f.path for f in files])
    rows = df.collect()
    assert len(rows) == 2
    assert df.columns == ["id", "date", "patient", "file_name"]
    assert all(r.file_name.endswith("feed_20260813.csv") for r in rows)


def test_precheck_pass(spark, stage_dir):
    contract = PrecheckContract(
        expected_columns=["id", "date", "patient"], min_row_count=1
    )
    f = list_stage_files(spark, stage_dir, r".*\.csv$")[0]
    rpt = precheck_file(spark, f, contract, count_lines(spark, [f.path])[f.path])
    assert rpt.passed
    by_check = {r.check: r.status for r in rpt.results}
    assert by_check["COLUMN_COUNT"] == "PASS"
    assert by_check["DELIMITER_CONSISTENCY"] == "PASS"


def test_precheck_failures(spark, tmp_path):
    d = tmp_path / "bad"
    d.mkdir()
    # missing column + short rows + BOM
    p = d / "bad.csv"
    p.write_bytes(b"\xef\xbb\xbfid,date\n1\n")
    f = list_stage_files(spark, str(d), r".*\.csv$")[0]
    contract = PrecheckContract(
        expected_columns=["id", "date", "patient"], min_row_count=2
    )
    rpt = precheck_file(spark, f, contract, count_lines(spark, [f.path])[f.path])
    assert not rpt.passed
    by_check = {r.check: r.status for r in rpt.results}
    assert by_check["BOM_CHECK"] == "WARN"
    assert by_check["MISSING_COLUMNS"] == "FAIL"
    assert by_check["MIN_ROW_COUNT"] == "FAIL"
    assert by_check["DELIMITER_CONSISTENCY"] == "FAIL"


def test_strip_bom():
    assert strip_bom("﻿id,date") == ("id,date", "UTF-8")
    assert strip_bom("id,date") == ("id,date", None)


def test_precheck_empty_file(spark, tmp_path):
    d = tmp_path / "empty"
    d.mkdir()
    (d / "e.csv").write_text("")
    f = list_stage_files(spark, str(d))[0]
    rpt = precheck_file(
        spark, f, PrecheckContract(), count_lines(spark, [f.path])[f.path]
    )
    assert not rpt.passed
    assert rpt.results[0].check == "FILE_SIZE"


def test_move_file(spark, tmp_path):
    src = tmp_path / "in" / "a.csv"
    src.parent.mkdir()
    src.write_text("x\n")
    dst = tmp_path / "archive" / "a.csv"
    assert move_file(spark, str(src), str(dst))
    assert not src.exists() and dst.exists()


@pytest.fixture()
def warehouse(spark, tmp_path_factory):
    # session-scoped spark already has a warehouse dir; just namespace tables
    yield spark
    for t in spark.catalog.listTables():
        spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_write_insert_truncate(warehouse):
    spark = warehouse
    df = spark.range(5).toDF("n")
    write_table(df, "t_base", mode="overwrite")
    assert spark.table("t_base").count() == 5
    assert insert_select(spark, "t_base", spark.range(3).toDF("n")) == 3
    assert spark.table("t_base").count() == 8
    truncate_table(spark, "t_base")
    assert spark.table("t_base").count() == 0
    assert table_exists(spark, "t_base")


def test_merge_upsert(warehouse):
    spark = warehouse
    tgt = spark.createDataFrame(
        [(1, "a", "old"), (2, "b", "old")], "k1 int, k2 string, v string"
    )
    write_table(tgt, "t_merge", mode="overwrite")
    src = spark.createDataFrame(
        [(2, "b", "new"), (3, "c", "new")], "k1 int, k2 string, v string"
    )
    stats = merge_upsert(spark, "t_merge", src, keys=["k1", "k2"])
    assert stats == {"updated": 1, "inserted": 1}
    out = {(r.k1, r.k2): r.v for r in spark.table("t_merge").collect()}
    assert out == {(1, "a"): "old", (2, "b"): "new", (3, "c"): "new"}


def test_insert_select_single_job(warehouse):
    """The rows-written count must ride the write job (observe), not a
    second evaluation of the source plan."""
    spark = warehouse
    write_table(spark.range(5).toDF("n"), "t_onejob", mode="overwrite")
    sc = spark.sparkContext
    sc.setJobGroup("ins_one", "insert_select")
    assert insert_select(spark, "t_onejob", spark.range(7).toDF("n")) == 7
    sc.setJobGroup("ins_other", "")
    assert len(sc.statusTracker().getJobIdsForGroup("ins_one")) == 1


def test_merge_upsert_tiebreak_deterministic(warehouse):
    """Duplicate-key source rows: the highest tiebreak value wins and
    the updated/inserted tallies count key groups, not source rows."""
    spark = warehouse
    tgt = spark.createDataFrame(
        [(1, "a", "old", 0), (2, "b", "old", 0)],
        "k1 int, k2 string, v string, ts int",
    )
    write_table(tgt, "t_merge_tb", mode="overwrite")
    src = spark.createDataFrame(
        [(2, "b", "v1", 1), (2, "b", "v2", 2), (3, "c", "x", 1)],
        "k1 int, k2 string, v string, ts int",
    )
    stats = merge_upsert(spark, "t_merge_tb", src, keys=["k1", "k2"],
                         tiebreak_cols=["ts"])
    assert stats == {"updated": 1, "inserted": 1}
    out = {(r.k1, r.k2): r.v for r in spark.table("t_merge_tb").collect()}
    assert out == {(1, "a"): "old", (2, "b"): "v2", (3, "c"): "x"}


def test_merge_upsert_absent_target_dedups(warehouse):
    """The first merge into a missing table keeps one row per key and
    counts keys, like every later merge."""
    spark = warehouse
    spark.sql("DROP TABLE IF EXISTS t_merge_new")
    src = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], "k string, v int")
    stats = merge_upsert(spark, "t_merge_new", src, keys=["k"])
    assert stats == {"updated": 0, "inserted": 2}
    rows = spark.table("t_merge_new").collect()
    assert sorted(r.k for r in rows) == ["a", "b"]
    assert {r.v for r in rows if r.k == "b"} == {3}


def test_merge_upsert_failed_swap_keeps_target(warehouse, monkeypatch):
    """A swap whose staging rename fails must leave the old table in
    place, and the next merge must build on it."""
    from pyspark.sql import SparkSession

    spark = warehouse
    write_table(
        spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"),
        "t_merge_swap", mode="overwrite",
    )
    real_sql = SparkSession.sql

    def failing_sql(self, query, *args, **kwargs):
        if query.startswith("ALTER TABLE t_merge_swap__staging RENAME"):
            raise RuntimeError("rename failed")
        return real_sql(self, query, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "sql", failing_sql)
    src = spark.createDataFrame([("b", 20), ("c", 30)], "k string, v int")
    with pytest.raises(RuntimeError, match="rename failed"):
        merge_upsert(spark, "t_merge_swap", src, keys=["k"])
    monkeypatch.setattr(SparkSession, "sql", real_sql)

    assert {r.k: r.v for r in spark.table("t_merge_swap").collect()} == {
        "a": 1, "b": 2
    }
    stats = merge_upsert(spark, "t_merge_swap", src, keys=["k"])
    assert stats == {"updated": 1, "inserted": 1}
    assert {r.k: r.v for r in spark.table("t_merge_swap").collect()} == {
        "a": 1, "b": 20, "c": 30
    }


def test_watermark_anti_join(warehouse):
    spark = warehouse
    r1, r2 = new_run_id(), new_run_id()
    df = spark.createDataFrame(
        [(1, r1), (2, r1), (3, r2)], "id int, PARENT_RUN_ID string"
    )
    # nothing consumed yet -> all rows
    assert unconsumed(spark, df, "REFINED", table="t_marks").count() == 3
    mark_consumed(spark, [r1], "REFINED", table="t_marks")
    remaining = unconsumed(spark, df, "REFINED", table="t_marks")
    assert [r.id for r in remaining.collect()] == [3]
    # other stage unaffected
    assert unconsumed(spark, df, "CURATED", table="t_marks").count() == 3


def test_append_log(warehouse):
    spark = warehouse
    append_log(spark, "RAW", [log_row(
        "run1", "parent1", "adcs", "appointments", "SUCCESS",
        rows_read=10, rows_written=10,
    )])
    t = spark.table(log_table_name("RAW"))
    assert t.count() == 1
    row = t.collect()[0]
    assert row.status == "SUCCESS" and row.parent_run_id == "parent1"


def test_jsonl_scan_quarantine(spark, tmp_path):
    """Typed JSONL scan: well-formed typed lines pass; malformed JSON
    AND type-mismatched lines are quarantined with the raw line."""
    from ulh_etl_spark.sources.files import jsonl_scan

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello"}\n'
        "THIS IS NOT JSON\n"
        '{"doc_id": 2, "text": "world"}\n'
        '{"doc_id": "not_an_int", "text": "typed"}\n'
    )
    good, quar = jsonl_scan(spark, str(tmp_path), "doc_id BIGINT, text STRING")
    rows = sorted((r.doc_id, r.text) for r in good.collect())
    assert rows == [(1, "hello"), (2, "world")]
    assert "file_name" in good.columns
    bad = sorted(r.raw_line for r in quar.collect())
    assert bad == ["THIS IS NOT JSON",
                   '{"doc_id": "not_an_int", "text": "typed"}']


# ------------------------------------------------ precheck I/O per landing

# first line ends exactly at head_lines' first 64 KiB read with a CR
# whose LF starts the next read
_CHUNK_EDGE = b"x" * (64 * 1024 - 1) + b"\r\n1,2\r\n"

LINE_CASES = {
    "lf.csv": b"a,b\n1,2\n3,4\n",
    "crlf.csv": b"a,b\r\n1,2\r\n3,4\r\n",
    "cr_only.csv": b"a,b\r1,2\r3,4",
    "blank_lines.csv": b"a,b\n\n1,2\r\n\r\n\r3,4\n\n",
    "no_final_newline.csv": b"a,b\n1,2",
    # separators str.splitlines would break on; LineRecordReader doesn't
    "other_breaks.csv": "a\x0cb,c\x1cd\x85e\u2028f\n1,2\n".encode(),
    "chunk_edge.csv": _CHUNK_EDGE,
    "name with space.csv": b"h\nx\ny\n",
    "many.csv": b"".join(b"%d\n" % i for i in range(50)),
}


@pytest.fixture()
def line_files(spark, tmp_path):
    import gzip

    d = tmp_path / "lines"
    d.mkdir()
    for name, data in LINE_CASES.items():
        (d / name).write_bytes(data)
    with gzip.open(d / "crlf.csv.gz", "wb") as g:
        g.write(b"h1,h2\r\n" + b"".join(b"%d,%d\r\n" % (i, i) for i in range(3000)))
    return list_stage_files(spark, str(d))


def test_head_and_count_lines_match_text_reader(spark, line_files):
    from ulh_etl_spark.sources.files import count_lines, head_bytes

    counts = count_lines(spark, [f.path for f in line_files])
    assert len(line_files) == len(LINE_CASES) + 1
    for f in line_files:
        want = [r.value for r in spark.read.text(f.path).collect()]
        assert head_lines(spark, f.path, 11) == want[:11], f.name
        assert counts[f.path] == len(want), f.name
    # head_bytes reads the stored bytes: a gzip member header
    gz = next(f for f in line_files if f.name.endswith(".gz"))
    assert head_bytes(spark, gz.path, 2) == b"\x1f\x8b"


def test_count_lines_keys_plain_paths(spark, tmp_path):
    from ulh_etl_spark.sources.files import count_lines

    (tmp_path / "a b.csv").write_bytes(b"1\n2\n")
    (tmp_path / "empty.csv").write_bytes(b"")
    paths = [str(tmp_path / "a b.csv"), str(tmp_path / "empty.csv")]
    assert count_lines(spark, paths) == {paths[0]: 2, paths[1]: 0}
    assert count_lines(spark, []) == {}


@pytest.mark.parametrize(
    "name,data,bom",
    [
        ("utf8.csv", b"\xef\xbb\xbfid,date\n1,2\n", "UTF-8"),
        ("utf16le.csv", b"\xff\xfeid,date\n1,2\n", "UTF-16-LE"),
        ("plain.csv", b"id,date\n1,2\n", None),
    ],
)
def test_precheck_bom_names(spark, tmp_path, name, data, bom):
    (tmp_path / name).write_bytes(data)
    f = list_stage_files(spark, str(tmp_path))[0]
    rpt = precheck_file(
        spark, f, PrecheckContract(expected_columns=["id", "date"]),
        count_lines(spark, [f.path])[f.path],
    )
    by_check = {r.check: r for r in rpt.results}
    if bom:
        assert (by_check["BOM_CHECK"].status, by_check["BOM_CHECK"].actual) == ("WARN", bom)
    else:
        assert by_check["BOM_CHECK"].status == "PASS"
    # the header is checked as the RAW load names its columns: Spark's
    # CSV reader drops a UTF-8 BOM and keeps a UTF-16 one in "id"
    header, _ = strip_bom(head_lines(spark, f.path, 1)[0])
    assert header.split(",") == csv_scan(spark, [f.path], with_file_name=False).columns
    assert rpt.passed == (bom != "UTF-16-LE")


def _precheck_jobs(spark, directory: str, n_files: int) -> int:
    from ulh_etl_spark.config import IngestEntry, SourceSpec
    from ulh_etl_spark.pipeline import stage_precheck

    os.makedirs(directory)
    for i in range(n_files):
        with open(os.path.join(directory, f"f{i}.csv"), "w") as fh:
            fh.write("id,v\n" + "".join(f"{j},x\n" for j in range(i + 2)))
    entry = IngestEntry(
        name="jobs",
        source=SourceSpec(kind="file", directory=directory),
        precheck=PrecheckContract(expected_columns=["id", "v"], min_row_count=1),
    )
    files = list_stage_files(spark, directory)
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()
    passing, failing, _ = stage_precheck(spark, entry, files, new_run_id(), "p")
    jobs = sched.nextJobId() - before
    assert len(passing) == n_files and not failing
    return jobs


def test_precheck_jobs_do_not_grow_with_files(warehouse, tmp_path):
    spark = warehouse
    one = _precheck_jobs(spark, str(tmp_path / "one"), 1)
    six = _precheck_jobs(spark, str(tmp_path / "six"), 6)
    assert one == six
    log = spark.table(log_table_name("PRECHECK"))
    assert log.filter("status = 'SUCCESS'").count() == 7
