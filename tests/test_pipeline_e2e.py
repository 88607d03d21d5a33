"""End-to-end pipeline test: CSV files → precheck → RAW → REFINED →
CURATED, with lineage, watermark consumption, lookup join, record-type
classification, audit logs, and archive moves (SURVEY §3.1)."""

import pytest
from pyspark.sql import functions as F

from ulh_etl_spark.config import load_config
from ulh_etl_spark.pipeline import run_practice
from ulh_etl_spark.sinks.tables import write_table


GOOD_CSV = (
    "patient_id,patient name,appt_date,appt_time,location,eligible\n"
    "{P-1},\"Smith, Alice\",2099-01-02,09:00,CLINIC A,Y\n"
    "{P-2},\"Jones, Bob\",2099-01-03,10:30,CLINIC B,Y\n"
    "{P-3},\"Wu, Carol\",1999-01-01,08:00,CLINIC A,Y\n"   # past -> filtered
    "{P-4},\"Lee, Dan\",2099-02-01,11:00,CLINIC A,N\n"    # ineligible -> filtered
)
BAD_CSV = "patient_id,wrong\n1\n"


def make_config(inbound: str) -> dict:
    return {
        "Practices": [
            {
                "practice_name": "testprac",
                "ingest": [
                    {
                        "name": "appointments",
                        "source": {
                            "kind": "file",
                            "directory": inbound,
                            "pattern": r".*\.csv$",
                            "delimiter": ",",
                        },
                        "precheck": {
                            "expected_columns": [
                                "patient_id", "patient name", "appt_date",
                                "appt_time", "location", "eligible",
                            ],
                            "min_row_count": 1,
                        },
                        "raw_table": "e2e_raw_appts",
                        "refined_table": "e2e_refined_appts",
                        "curated_table": "e2e_curated_appts",
                        "transforms": [
                            {"kind": "strip", "column": "patient_id", "chars": "{}"},
                            {
                                "kind": "split_reorder",
                                "column": "patient name",
                                "sep": ",",
                                "part_order": [1, 0],
                                "join_with": " ",
                            },
                        ],
                        "source_filter": [
                            {"column": "eligible", "operator": "=", "value": "Y"}
                        ],
                        "future_only_filter": {
                            "date_col": "APPT_DATE", "time_col": "APPT_TIME"
                        },
                        "lookups": [
                            {
                                "table": "e2e_office_map",
                                "keys": {"LOCATION": "emr_location"},
                                "select": {"assigned_office": "OFFICENAME"},
                            }
                        ],
                        "curated_mapping": [
                            {"target": "MBI", "kind": "dummy_key",
                             "source": "PATIENT_ID", "fallback": "PATIENT_ID"},
                            {"target": "FULLNAME", "kind": "source",
                             "source": "PATIENT NAME"},
                            {"target": "APPT_TS", "kind": "concat",
                             "sources": ["APPT_DATE", "APPT_TIME"],
                             "separator": " "},
                            {"target": "OFFICE", "kind": "coalesce",
                             "sources": ["OFFICENAME", "LOCATION"]},
                            {"target": "SOURCE_SYSTEM", "kind": "literal",
                             "literal": "testprac"},
                            {"target": "REFINED_PARENT_RUN_ID", "kind": "source",
                             "source": "REFINED_PARENT_RUN_ID"},
                        ],
                        "sync": {"keys": ["MBI"]},
                    }
                ],
            }
        ]
    }


@pytest.fixture()
def env(spark, tmp_path):
    inbound = tmp_path / "inbound"
    inbound.mkdir()
    (inbound / "appts_1.csv").write_text(GOOD_CSV)
    (inbound / "appts_bad.csv").write_text(BAD_CSV)
    office = spark.createDataFrame(
        [("CLINIC A", "Office Alpha")], "emr_location string, assigned_office string"
    )
    write_table(office, "e2e_office_map", mode="overwrite")
    yield str(inbound)
    for t in spark.catalog.listTables():
        if t.name.startswith("e2e_") or t.name in ("_processed_runs",) or \
           t.name.endswith("_ingest_log"):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_end_to_end(spark, env):
    cfg = load_config(make_config(env))
    notifications = []
    reports = run_practice(
        spark, cfg, "testprac", archive=True,
        notify=lambda kind, payload: notifications.append((kind, payload)),
    )
    assert len(reports) == 1
    rpt = reports[0]
    assert rpt.status == "SUCCESS", rpt.error
    assert rpt.files_loaded == ["appts_1.csv"]
    assert rpt.files_rejected == ["appts_bad.csv"]
    assert rpt.rows_raw == 4
    assert rpt.rows_refined == 4
    # eligible=Y AND future-only -> 2 rows survive
    assert rpt.rows_curated == 2
    assert rpt.record_type_distribution == {"NEW": 2}

    curated = {r.MBI: r for r in spark.table("e2e_curated_appts").collect()}
    assert set(curated) == {"P-1", "P-2"}          # braces stripped
    assert curated["P-1"].FULLNAME == "Alice Smith"  # split_reorder
    assert curated["P-1"].OFFICE == "Office Alpha"   # lookup join hit
    assert curated["P-2"].OFFICE == "CLINIC B"       # lookup miss -> coalesce
    assert curated["P-1"].APPT_TS == "2099-01-02 09:00"
    assert curated["P-1"].RECORD_TYPE == "NEW"

    # refined table: uppercase columns, no IS_NEW, lineage stamped
    refined = spark.table("e2e_refined_appts")
    assert "IS_NEW" not in refined.columns
    assert refined.columns == [c.upper() for c in refined.columns]
    assert refined.filter(F.col("REFINED_PARENT_RUN_ID") == rpt.parent_run_id).count() == 4

    # audit logs written for every stage
    for stage in ("precheck", "raw", "refined", "curated"):
        assert spark.table(f"{stage}_ingest_log").count() >= 1, stage

    # archive moves: good -> archive/, bad -> error/, names embed run id
    import os
    archived = os.listdir(os.path.join(env, "archive"))
    errored = os.listdir(os.path.join(env, "error"))
    assert len(archived) == 1 and rpt.parent_run_id in archived[0]
    assert len(errored) == 1 and rpt.parent_run_id in errored[0]

    # notifications fired
    kinds = [k for k, _ in notifications]
    assert "precheck_failed" in kinds and "run_complete" in kinds


def test_rerun_is_incremental(spark, env):
    """A second run with no new files must write nothing downstream
    (watermark consumption: no IS_NEW rows left)."""
    cfg = load_config(make_config(env))
    first = run_practice(spark, cfg, "testprac")[0]
    assert first.rows_curated == 2

    second = run_practice(spark, cfg, "testprac")[0]
    assert second.status == "SUCCESS", second.error
    # files were not archived (archive=False), so RAW re-appends them,
    # but refined/curated only see the NEW run's rows
    assert second.rows_refined == 4
    assert second.rows_curated == 2
    # and record type flips to UPDATE now that curated keys exist
    assert second.record_type_distribution == {"UPDATE": 2}
    assert spark.table("e2e_curated_appts").count() == 4


def test_failed_archive_move_fails_the_run(spark, env, monkeypatch):
    """A move that returns False leaves the file in the inbound
    directory, where the next run would re-append it to RAW: the run
    must report FAILED, name the file and send run_failed."""
    monkeypatch.setattr("ulh_etl_spark.pipeline.move_file", lambda *a, **k: False)
    cfg = load_config(make_config(env))
    notifications = []
    rpt = run_practice(
        spark, cfg, "testprac", archive=True,
        notify=lambda kind, payload: notifications.append((kind, payload)),
    )[0]
    assert rpt.status == "FAILED"
    assert "appts_1.csv" in rpt.error and "appts_bad.csv" in rpt.error
    kinds = [k for k, _ in notifications]
    assert "run_failed" in kinds and "run_complete" not in kinds


def test_query_source_ingest(spark):
    """kind='query' entries run SQL over registered views as the RAW
    source (reference S5)."""
    from ulh_etl_spark.config import IngestEntry, Practice, SourceSpec
    from ulh_etl_spark.pipeline import run_entry

    spark.createDataFrame(
        [(1, "a", 1), (2, "b", 0)], "id int, v string, flag int"
    ).createOrReplaceTempView("staging_src")
    entry = IngestEntry(
        name="qsrc",
        source=SourceSpec(kind="query",
                          query="SELECT id, v FROM staging_src WHERE flag = 1"),
        raw_table="e2e_qsrc_raw",
    )
    try:
        rpt = run_entry(spark, Practice("p"), entry)
        assert rpt.status == "SUCCESS", rpt.error
        assert rpt.rows_raw == 1
        t = spark.table("e2e_qsrc_raw")
        assert {"PARENT_RUN_ID", "IS_NEW", "file_name"} <= set(t.columns)
        assert t.collect()[0].v == "a"
    finally:
        spark.sql("DROP TABLE IF EXISTS e2e_qsrc_raw")


def test_run_entry_stamps_given_run_id(spark, env):
    """A caller-supplied parent run id is the one stamped on RAW
    PARENT_RUN_ID and on every stage's audit row."""
    from ulh_etl_spark.pipeline import run_entry

    cfg = load_config(make_config(env))
    practice = cfg.practice("testprac")
    rpt = run_entry(spark, practice, practice.ingest[0], parent_run_id="outer-7")
    assert rpt.status == "SUCCESS", rpt.error
    assert rpt.parent_run_id == "outer-7"
    raw_ids = {r.PARENT_RUN_ID for r in spark.table("e2e_raw_appts").collect()}
    assert raw_ids == {"outer-7"}
    for stage in ("precheck", "raw", "refined", "curated"):
        log = spark.table(f"{stage}_ingest_log")
        assert log.filter(F.col("parent_run_id") == "outer-7").count() >= 1, stage


def test_run_practice_runs_only_named_entry(spark, env):
    """entry_name selects one entry of the practice; the others do
    not run."""
    cfg_dict = make_config(env)
    other = dict(cfg_dict["Practices"][0]["ingest"][0], name="other",
                 raw_table="e2e_other_raw", refined_table="e2e_other_refined",
                 curated_table="e2e_other_curated")
    cfg_dict["Practices"][0]["ingest"].append(other)
    cfg = load_config(cfg_dict)
    reports = run_practice(spark, cfg, "testprac", entry_name="other")
    assert [r.entry for r in reports] == ["other"]
    assert reports[0].status == "SUCCESS", reports[0].error
    assert spark.catalog.tableExists("e2e_other_raw")
    assert not spark.catalog.tableExists("e2e_raw_appts")


def test_zone_mode_end_to_end(spark, env):
    """use_zones=True routes unset table names into the medallion
    zone databases."""
    cfg_dict = make_config(env)
    e = cfg_dict["Practices"][0]["ingest"][0]
    del e["raw_table"], e["refined_table"], e["curated_table"]
    cfg = load_config(cfg_dict)
    try:
        rpt = run_practice(spark, cfg, "testprac", use_zones=True)[0]
        assert rpt.status == "SUCCESS", rpt.error
        assert spark.table("raw_zone.testprac_appointments").count() == 4
        assert spark.table("refined_zone.testprac_appointments").count() == 4
        assert spark.table("curated_zone.testprac_appointments").count() == 2
    finally:
        for z in ("raw", "refined", "curated"):
            spark.sql(f"DROP TABLE IF EXISTS {z}_zone.testprac_appointments")


def test_failed_stage_leaves_audit_row(spark, env):
    """A stage that raises marks the report FAILED AND appends one
    FAILED row to that stage's log table: here CURATED, whose lookup
    table is missing."""
    spark.sql("DROP TABLE IF EXISTS e2e_office_map")
    cfg = load_config(make_config(env))
    rpt = run_practice(spark, cfg, "testprac")[0]
    assert rpt.status == "FAILED"
    assert rpt.rows_refined == 4 and rpt.rows_curated == 0

    rows = spark.table("curated_ingest_log").filter(
        F.col("parent_run_id") == rpt.parent_run_id
    ).collect()
    assert [r.status for r in rows] == ["FAILED"]
    assert rows[0].error_message == rpt.error
    assert "e2e_office_map" in rows[0].error_message
    # the stages before it logged their success as usual
    for stage in ("precheck", "raw", "refined"):
        statuses = {
            r.status for r in spark.table(f"{stage}_ingest_log")
            .filter(F.col("parent_run_id") == rpt.parent_run_id).collect()
        }
        assert "SUCCESS" in statuses, stage
