"""End-to-end over the shipped example config
(examples/practice_config.json) — the reference-shaped declaration a
migrating user would write, run through zones + full stage chain."""

import json
import os

import pytest

from ulh_etl_spark.config import load_config
from ulh_etl_spark.pipeline import run_practice
from ulh_etl_spark.sinks.tables import write_table

CSV_HEADER = (
    "appt_id,Appt_Date,Appt_Provider,Appt_StartTime,Appt_Status,Appt_Type,"
    "national_provider_id,location_id,location_name,Patient_Address_1,"
    "cell_phone,city,email_address,state,zip,Primary_Ins_Name,"
    "Primary_Policy_Number,date_of_birth,first_name,last_name,med_rec_nbr,"
    "Appointment_Deleted"
)


def _row(appt_id, date, time, status, loc, mbi, first, last, mrn, deleted="N"):
    return (
        f"{{{appt_id}}},{date},Dr. Who,{time},{status},Checkup,1234,{{L-1}},"
        f"{loc},1 Main St,555,Springfield,a@b.c,IL,62704,Medicare,{mbi},"
        f"1950-01-01,{first},{last},{mrn},{deleted}"
    )


@pytest.fixture()
def example_env(spark, tmp_path):
    path = os.path.join(
        os.path.dirname(__file__), "..", "examples", "practice_config.json"
    )
    with open(path) as f:
        cfg = json.load(f)
    inbound = tmp_path / "inbound"
    inbound.mkdir()
    entry = cfg["Practices"][0]["ingest"][0]
    entry["source"]["directory"] = str(inbound)
    rows = [
        _row("A-1", "2099-03-01", "09:00", "RESCHEDULED", "Alpha Clinic",
             "1AB2CD3EF45", "Alice", "Smith", "M1"),
        _row("A-2", "2099-03-02", "10:00", "Scheduled", "Beta Center",
             "", "Bob", "Jones", "M2"),                      # blank MBI
        _row("A-3", "1999-01-01", "08:00", "Completed", "Alpha Clinic",
             "X", "Carol", "Wu", "M3"),                      # past
        _row("A-4", "2099-03-04", "11:00", "Scheduled", "Alpha Clinic",
             "Y", "Dan", "Lee", "M4", deleted="Y"),          # deleted
    ]
    (inbound / "adcs_appts.csv").write_text(CSV_HEADER + "\n" + "\n".join(rows) + "\n")
    write_table(
        spark.createDataFrame(
            [("Alpha", "Office Alpha")], "emr_location string, assigned_office string"
        ),
        "office_mappings", mode="overwrite",
    )
    yield cfg
    spark.sql("DROP TABLE IF EXISTS office_mappings")
    spark.sql("DROP TABLE IF EXISTS _processed_runs")
    for z in ("raw", "refined", "curated"):
        spark.sql(f"DROP TABLE IF EXISTS {z}_zone.adcs_appointmentdata")
    for s in ("precheck", "raw", "refined", "curated"):
        spark.sql(f"DROP TABLE IF EXISTS {s}_ingest_log")


def test_example_config_end_to_end(spark, example_env):
    cfg = load_config(example_env)
    rpt = run_practice(spark, cfg, "adcs", use_zones=True)[0]
    assert rpt.status == "SUCCESS", rpt.error
    assert rpt.rows_raw == 4
    # deleted=Y and past-dated rows filtered -> 2 curated
    assert rpt.rows_curated == 2

    curated = {r.MBI: r for r in spark.table("curated_zone.adcs_appointmentdata").collect()}
    # blank MBI -> dummy key from med_rec_nbr
    assert set(curated) == {"1AB2CD3EF45", "NOMBI_M2"}
    a1 = curated["1AB2CD3EF45"]
    assert a1.PATIENTNAME == "Alice Smith"
    assert a1.APPTSTATUS == "Scheduled"          # value_map RESCHEDULED ->
    assert a1.OFFICE == "Office Alpha"           # regex strip " Clinic" + lookup
    assert a1.DOB == "1950-01-01 08:00"          # textual date + suffix
    assert a1.SOURCE_SYSTEM == "adcs"
    assert curated["NOMBI_M2"].OFFICE == "Beta Center"  # lookup miss -> coalesce
