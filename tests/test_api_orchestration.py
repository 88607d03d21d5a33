"""Tests for the daily API-ingest orchestrator (§3.2) and the
notification sink (K9)."""

import json

import pytest

from ulh_etl_spark.api_ingest import (
    lookback_window,
    run_api_practice,
)
from ulh_etl_spark.config import load_config
from ulh_etl_spark.sinks.notify import post_notification, webhook_notifier
from ulh_etl_spark.sources.http import HttpResponse


class FakeTransport:
    def __init__(self):
        self.routes = {}
        self.calls = []

    def route(self, method, url, *responses):
        self.routes[(method, url)] = list(responses)

    def __call__(self, method, url, headers=None, json_body=None, timeout=60.0,
                 data=None, auth=None):
        self.calls.append((method, url, headers))
        if (method, url) not in self.routes:
            return HttpResponse(404, "not found")
        queue = self.routes[(method, url)]
        return queue.pop(0) if len(queue) > 1 else queue[0]


def ok(payload):
    return HttpResponse(200, json.dumps(payload))


API_CONFIG = {
    "Practices": [
        {
            "practice_name": "ellkay_prac",
            "ingest": [
                {
                    "name": "UpdatedPatients",
                    "source": {
                        "kind": "http",
                        "options": {"pattern": "paginated",
                                    "begin_url": "https://lk/begin",
                                    "next_url": "https://lk/next"},
                    },
                    "raw_table": "api_raw_patients",
                },
                {
                    "name": "PatientDetails",
                    "source": {
                        "kind": "http",
                        "options": {"pattern": "fanout",
                                    "ids_table": "api_raw_patients",
                                    "ids_column": "patientId",
                                    "url_template": "https://lk/patient/{id}",
                                    "api_delay_ms": 0},
                    },
                    "raw_table": "api_raw_details",
                },
                {
                    "name": "BrokenEndpoint",
                    "source": {
                        "kind": "http",
                        "options": {"pattern": "single",
                                    "url": "https://lk/broken"},
                    },
                    "raw_table": "api_raw_broken",
                },
                {"name": "file_entry_ignored",
                 "source": {"kind": "file", "directory": "/nope"},
                 "raw_table": "x"},
            ],
        }
    ]
}


@pytest.fixture()
def api_cleanup(spark):
    yield
    for t in ("api_raw_patients", "api_raw_details", "api_raw_broken",
              "raw_ingest_log"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_run_api_practice_ordered_with_dependency(spark, api_cleanup):
    """Endpoint ordering is honored: the fan-out entry reads ids from
    the table the paginated entry just wrote; a failing endpoint does
    not stop the run."""
    t = FakeTransport()
    t.route("POST", "https://auth", ok({"access_token": "tok"}))
    t.route("POST", "https://lk/begin",
            ok({"records": [{"patientId": "p1"}], "nextToken": "n1"}))
    t.route("POST", "https://lk/next", ok({"records": [{"patientId": "p2"}]}))
    t.route("POST", "https://lk/patient/p1", ok([{"detail": "d1"}]))
    t.route("POST", "https://lk/patient/p2", ok([{"detail": "d2"}]))
    t.route("POST", "https://lk/broken", HttpResponse(500, "boom"))

    cfg = load_config(API_CONFIG)

    def auth(transport):
        resp = transport("POST", "https://auth")
        return {"Authorization": f"Bearer {resp.json()['access_token']}"}

    rpt = run_api_practice(spark, cfg.practice("ellkay_prac"), t, auth)
    statuses = {e.entry: e.status for e in rpt.endpoints}
    assert statuses == {
        "UpdatedPatients": "SUCCESS",
        "PatientDetails": "SUCCESS",
        "BrokenEndpoint": "FAILED",
    }
    assert spark.table("api_raw_patients").count() == 2
    details = spark.table("api_raw_details")
    assert {r._source_patient_id for r in details.collect()} == {"p1", "p2"}
    assert "PARENT_RUN_ID" in details.columns
    # auth ran exactly once
    assert sum(1 for m, u, _ in t.calls if u == "https://auth") == 1
    # failed endpoint logged
    logs = spark.table("raw_ingest_log")
    assert logs.filter("status = 'FAILED' AND entry = 'BrokenEndpoint'").count() == 1


def test_run_api_practice_stamps_given_run_id(spark, api_cleanup):
    """A caller-supplied parent run id (an outer orchestrator's) is
    the one stamped on the RAW rows and on the audit row."""
    t = FakeTransport()
    t.route("POST", "https://lk/begin", ok({"records": [{"patientId": "p1"}]}))
    cfg = load_config({"Practices": [{"practice_name": "p", "ingest": [
        API_CONFIG["Practices"][0]["ingest"][0]
    ]}]})
    rpt = run_api_practice(spark, cfg.practice("p"), t, parent_run_id="outer-1")
    assert rpt.parent_run_id == "outer-1"
    assert [r.PARENT_RUN_ID for r in spark.table("api_raw_patients").collect()] == [
        "outer-1"
    ]
    logs = spark.table("raw_ingest_log").filter("parent_run_id = 'outer-1'")
    assert [(r.entry, r.status) for r in logs.collect()] == [
        ("UpdatedPatients", "SUCCESS")
    ]


def test_auth_failure_skips_practice(spark, api_cleanup):
    t = FakeTransport()
    cfg = load_config(API_CONFIG)

    def bad_auth(transport):
        raise RuntimeError("token fetch failed")

    rpt = run_api_practice(spark, cfg.practice("ellkay_prac"), t, bad_auth)
    assert all(e.status == "SKIPPED" for e in rpt.endpoints)
    assert len(rpt.endpoints) == 3  # the file entry is not counted


def test_api_audit_failure_keeps_continue_on_error(spark, monkeypatch):
    """An audit append that raises fails only its own endpoint: every
    endpoint is reported once, with the audit error appended, and the
    next endpoint still runs."""
    import ulh_etl_spark.api_ingest as api_ingest

    def broken_log(*args, **kwargs):
        raise OSError("log table unavailable")

    monkeypatch.setattr(api_ingest, "append_log", broken_log)
    t = FakeTransport()
    t.route("POST", "https://lk/a", ok([{"v": "1"}]))
    t.route("POST", "https://lk/b", ok([{"v": "2"}]))
    cfg = load_config({"Practices": [{"practice_name": "p", "ingest": [
        {"name": name, "raw_table": f"api_raw_{name}",
         "source": {"kind": "http", "options": {
             "pattern": "single", "url": f"https://lk/{name}"}}}
        for name in ("a", "b")
    ]}]})
    try:
        rpt = run_api_practice(spark, cfg.practice("p"), t)
        assert [(e.entry, e.status) for e in rpt.endpoints] == [
            ("a", "FAILED"), ("b", "FAILED")
        ]
        for e in rpt.endpoints:
            assert e.error == (
                "log table unavailable; audit row not written: "
                "log table unavailable"
            )
        assert [url for _, url, _ in t.calls] == ["https://lk/a", "https://lk/b"]
        assert spark.table("api_raw_b").count() == 1
    finally:
        for name in ("a", "b"):
            spark.sql(f"DROP TABLE IF EXISTS api_raw_{name}")


def test_lookback_window_clock_skew():
    from datetime import datetime, timezone

    now = datetime(2026, 8, 13, 12, 0, tzinfo=timezone.utc)
    start, end = lookback_window(hours_back=24, clock_skew_hours=6, now=now)
    assert end == now
    assert (end - start).total_seconds() == (24 + 6) * 3600


def test_post_notification_retry():
    t = FakeTransport()
    t.route("POST", "https://hook", HttpResponse(500), HttpResponse(200, "ok"))
    waits = []
    assert post_notification(t, "https://hook", {"x": 1}, sleeper=waits.append)
    assert waits == [2.0]


def test_post_notification_never_raises():
    def exploding(*a, **k):
        raise ConnectionError("down")

    assert not post_notification(exploding, "https://hook", {}, sleeper=lambda s: None)


def test_webhook_notifier_adapts():
    t = FakeTransport()
    t.route("POST", "https://hook", HttpResponse(200, "ok"))
    results = []
    notify = webhook_notifier(t, "https://hook", sleeper=lambda s: None,
                              on_result=lambda kind, ok: results.append((kind, ok)))
    notify("run_complete", {"practice": "p", "rows": 5})
    assert results == [("run_complete", True)]
    method, url, _ = t.calls[0]
    assert (method, url) == ("POST", "https://hook")
