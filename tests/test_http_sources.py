"""Tests for the HTTP source adapters (S7-S12) and the entity-store
sink (K7) — all through fake transports, no network."""

import json

import pytest

from ulh_etl_spark.sinks.entity import (
    BatchResult,
    batch_upsert_http,
    classify_create_update,
    entity_mirror_merge,
    parse_batch_response,
)
from ulh_etl_spark.sinks.tables import write_table
from ulh_etl_spark.sources.http import (
    HttpResponse,
    OAuth2ClientCredentials,
    dotted_path,
    entity_fanout_source,
    extract_records,
    hierarchy_walk_source,
    odata_paged_source,
    records_to_df,
    refresh_handshake_source,
    retry_call,
    token_paginated_source,
)


class FakeTransport:
    """Programmable transport: maps (method, url) -> list of responses
    consumed in order (last one repeats)."""

    def __init__(self):
        self.routes = {}
        self.calls = []
        self.headers = []

    def route(self, method, url, *responses):
        self.routes[(method, url)] = list(responses)

    def __call__(self, method, url, headers=None, json_body=None, timeout=60.0,
                 data=None, auth=None):
        self.calls.append((method, url, json_body, data))
        self.headers.append(headers)
        queue = self.routes[(method, url)]
        return queue.pop(0) if len(queue) > 1 else queue[0]


def ok(payload) -> HttpResponse:
    return HttpResponse(status=200, body=json.dumps(payload))


NOSLEEP = lambda s: None


def test_retry_backoff_and_429():
    t = FakeTransport()
    t.route("GET", "u", HttpResponse(500), HttpResponse(429), ok({"a": 1}))
    waits = []
    resp = retry_call(t, "GET", "u", retries=3, sleeper=waits.append)
    assert resp.status == 200
    assert waits == [5.0, 30.0]  # linear backoff then rate-limit wait


def test_retry_exhausted_returns_last():
    t = FakeTransport()
    t.route("GET", "u", HttpResponse(503))
    assert retry_call(t, "GET", "u", sleeper=NOSLEEP).status == 503


def test_oauth_headers():
    t = FakeTransport()
    t.route("POST", "https://auth/token", ok({"access_token": "tok123"}))
    auth = OAuth2ClientCredentials(
        "https://auth/token", "cid", "secret", extra_headers={"SiteServiceKey": "ssk"}
    )
    h = auth.headers(t)
    assert h == {"Authorization": "Bearer tok123", "SiteServiceKey": "ssk"}
    auth.headers(t)  # cached — no second token call
    assert len(t.calls) == 1


def test_extract_records_shapes():
    assert extract_records([{"a": 1}, {"b": 2}]) == [{"a": 1}, {"b": 2}]
    assert extract_records({"items": [{"a": 1}], "n": 1}) == [{"a": 1}]
    assert extract_records({"a": 1}) == [{"a": 1}]
    assert extract_records("junk") == []


def test_dotted_path():
    assert dotted_path({"a": {"b": {"c": 7}}}, "a.b.c") == 7


def test_records_to_df_stringifies_nested(spark):
    df = records_to_df(
        spark, [{"id": 1, "meta": {"x": 1}}, {"id": 2, "tags": ["a"]}]
    )
    rows = {r.id: r for r in df.collect()}
    assert df.columns == ["id", "meta", "tags"]
    assert json.loads(rows["1"].meta) == {"x": 1}
    assert rows["1"].tags is None
    assert json.loads(rows["2"].tags) == ["a"]


def test_refresh_handshake(spark):
    t = FakeTransport()
    t.route("POST", "https://hj/refresh", ok({}))
    t.route("GET", "https://hj/results.json",
            ok({"query_result": {"data": {"rows": [{"id": "1"}, {"id": "2"}]}}}))
    waits = []
    df = refresh_handshake_source(
        spark, t, "https://hj/results.json", refresh_url="https://hj/refresh",
        headers={"Authorization": "Bearer hj"}, wait_s=120, sleeper=waits.append,
    )
    assert df.count() == 2
    assert 120 in waits  # the fixed refresh wait
    assert t.headers == [{"Authorization": "Bearer hj"}] * 2


def test_refresh_handshake_derives_refresh_url(spark):
    """Config stores only the results URL; the refresh endpoint is
    composed from it (reference API_TO_RAW_SNOWFLAKE.py:290-311)."""
    t = FakeTransport()
    t.route("POST", "https://dbx.example.com/api/queries/3977/refresh", ok({}))
    t.route("GET", "https://dbx.example.com/api/queries/3977/results.json",
            ok({"query_result": {"data": {"rows": [{"id": "1"}]}}}))
    df = refresh_handshake_source(
        spark, t, "https://dbx.example.com/api/queries/3977/results.json",
        wait_s=0, sleeper=lambda s: None,
    )
    assert df.count() == 1


def test_query_id_and_refresh_url_helpers():
    from ulh_etl_spark.sources.http import build_refresh_url, extract_query_id

    u = "https://dbx.example.com/api/queries/3977/results.json"
    assert extract_query_id(u) == "3977"
    assert build_refresh_url(u) == "https://dbx.example.com/api/queries/3977/refresh"
    assert extract_query_id("https://x/other") is None
    assert build_refresh_url("https://x/other") is None


def test_token_pagination(spark):
    t = FakeTransport()
    t.route("POST", "https://lk/begin", ok({"records": [{"i": 1}], "nextToken": "t1"}))
    t.route("POST", "https://lk/next",
            ok({"records": [{"i": 2}], "nextToken": "t2"}),
            ok({"records": [{"i": 3}]}))
    df = token_paginated_source(spark, t, "https://lk/begin", "https://lk/next",
                                sleeper=NOSLEEP)
    assert sorted(r.i for r in df.collect()) == ["1", "2", "3"]
    # token propagated into the Next body
    assert t.calls[1][2] == {"nextToken": "t1"}
    assert t.calls[2][2] == {"nextToken": "t2"}


def test_entity_fanout_driver_mode(spark):
    t = FakeTransport()
    t.route("POST", "https://lk/patient/p1", ok([{"v": "a"}]))
    t.route("POST", "https://lk/patient/p2", HttpResponse(404))  # skipped
    t.route("POST", "https://lk/patient/p3", ok([{"v": "b"}, {"v": "c"}]))
    ids_df = spark.createDataFrame([("p1",), ("p2",), ("p3",), ("p1",)], "pid string")
    df = entity_fanout_source(
        spark, lambda: t, ids_df, lambda i: f"https://lk/patient/{i}",
        api_delay_ms=0, sleeper=NOSLEEP,
    )
    rows = df.collect()
    assert {(r.v, r._source_patient_id) for r in rows} == {
        ("a", "p1"), ("b", "p3"), ("c", "p3")
    }


def test_odata_paging(spark):
    t = FakeTransport()
    t.route("GET", "https://dv/appts",
            ok({"value": [{"g": "1"}], "@odata.nextLink": "https://dv/appts?p=2"}))
    t.route("GET", "https://dv/appts?p=2", ok({"value": [{"g": "2"}]}))
    df = odata_paged_source(spark, t, "https://dv/appts",
                            headers={"Authorization": "Bearer dv"}, sleeper=NOSLEEP)
    assert sorted(r.g for r in df.collect()) == ["1", "2"]
    # caller headers ride every page request beside the page-size preference
    assert t.headers == [
        {"Prefer": "odata.maxpagesize=5000", "Authorization": "Bearer dv"}
    ] * 2


def test_hierarchy_walk(spark):
    t = FakeTransport()
    t.route("GET", "https://r8/permissions", ok({
        "practices": [
            {"name": "pr1", "employees": [{"id": "e1"}, {"id": "e2"}]},
        ]
    }))
    t.route("GET", "https://r8/reviews/pr1/e1", ok([{"rating": "5"}]))
    t.route("GET", "https://r8/reviews/pr1/e2", HttpResponse(200, "NULL"))
    df = hierarchy_walk_source(
        spark, t, "https://r8/permissions",
        lambda p, e: f"https://r8/reviews/{p['name']}/{e['id']}",
        headers={"Authorization": "Basic r8"}, sleeper=NOSLEEP,
    )
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0].rating == "5" and rows[0]._practice == "pr1"
    assert t.headers == [{"Authorization": "Basic r8"}] * 3


# ---------------------------------------------------------------- K7 sink


@pytest.fixture()
def mirror_cleanup(spark):
    yield
    spark.sql("DROP TABLE IF EXISTS entity_mirror")


def test_entity_mirror_merge(spark, mirror_cleanup):
    base = spark.createDataFrame(
        [("MBI1", "old"), ("MBI2", "old")], "mbi string, v string"
    )
    write_table(base, "entity_mirror", mode="overwrite")
    stats = entity_mirror_merge(
        spark, "entity_mirror",
        spark.createDataFrame([("MBI2", "new"), ("MBI3", "new")], "mbi string, v string"),
        alternate_key=["mbi"],
    )
    assert stats == {"updated": 1, "inserted": 1, "deleted": 0}
    out = {r.mbi: r.v for r in spark.table("entity_mirror").collect()}
    assert out == {"MBI1": "old", "MBI2": "new", "MBI3": "new"}


def test_entity_mirror_merge_delete(spark, mirror_cleanup):
    """Reference cancel semantics: a canceled (delete-flagged) row
    must disappear from the mirror, and the tallies count it."""
    base = spark.createDataFrame(
        [("MBI1", "old"), ("MBI2", "old"), ("MBI4", "old")],
        "mbi string, v string",
    )
    write_table(base, "entity_mirror", mode="overwrite")
    rows = spark.createDataFrame(
        [("MBI2", "new", None), ("MBI3", "new", None), ("MBI4", "x", "delete")],
        "mbi string, v string, _op string",
    )
    stats = entity_mirror_merge(
        spark, "entity_mirror", rows, alternate_key=["mbi"], op_col="_op"
    )
    assert stats == {"updated": 1, "inserted": 1, "deleted": 1}
    out = {r.mbi: r.v for r in spark.table("entity_mirror").collect()}
    assert out == {"MBI1": "old", "MBI2": "new", "MBI3": "new"}


def test_entity_mirror_merge_skip_not_upserted(spark, mirror_cleanup):
    """'skip' rows (canceled, never synced — the HTTP sink issues no
    request) must not be upserted into the mirror either."""
    base = spark.createDataFrame([("MBI1", "old")], "mbi string, v string")
    write_table(base, "entity_mirror", mode="overwrite")
    rows = spark.createDataFrame(
        [("MBI2", "new", None), ("MBI9", "canceled-unsynced", "skip")],
        "mbi string, v string, _op string",
    )
    stats = entity_mirror_merge(
        spark, "entity_mirror", rows, alternate_key=["mbi"], op_col="_op"
    )
    assert stats == {"updated": 0, "inserted": 1, "deleted": 0}
    out = {r.mbi: r.v for r in spark.table("entity_mirror").collect()}
    assert out == {"MBI1": "old", "MBI2": "new"}  # no MBI9


def test_entity_mirror_merge_upsert_and_delete_same_key(spark, mirror_cleanup):
    """A key upserted and deleted in one sync ends deleted, and is
    counted both as upserted (inserted or updated) and as deleted."""
    base = spark.createDataFrame(
        [("MBI1", "old"), ("MBI2", "old")], "mbi string, v string"
    )
    write_table(base, "entity_mirror", mode="overwrite")
    rows = spark.createDataFrame(
        [("MBI2", "new", None), ("MBI2", "x", "delete"),
         ("MBI3", "new", None), ("MBI3", "x", "delete"),
         ("MBI5", "x", "delete")],
        "mbi string, v string, _op string",
    )
    stats = entity_mirror_merge(
        spark, "entity_mirror", rows, alternate_key=["mbi"], op_col="_op"
    )
    assert stats == {"updated": 1, "inserted": 1, "deleted": 2}
    out = {r.mbi: r.v for r in spark.table("entity_mirror").collect()}
    assert out == {"MBI1": "old"}


def test_classify_create_update(spark):
    rows = spark.createDataFrame([("k1", "x"), ("k2", "y")], "k string, v string")
    key_map = spark.createDataFrame([("k1", "G-1")], "k string, guid string")
    out = {r.k: (r._op, r._guid)
           for r in classify_create_update(rows, key_map, ["k"]).collect()}
    assert out == {"k1": ("update", "G-1"), "k2": ("create", None)}


def test_classify_delete_when(spark):
    """Canceled rows become 'delete' when the snapshot knows the GUID,
    'skip' when nothing exists to delete."""
    from pyspark.sql import functions as F

    rows = spark.createDataFrame(
        [("k1", "active"), ("k2", "canceled"), ("k3", "canceled")],
        "k string, status string",
    )
    key_map = spark.createDataFrame(
        [("k1", "G-1"), ("k2", "G-2")], "k string, guid string"
    )
    out = {r.k: r._op for r in classify_create_update(
        rows, key_map, ["k"], delete_when=F.col("status") == "canceled"
    ).collect()}
    assert out == {"k1": "update", "k2": "delete", "k3": "skip"}


def test_parse_batch_response():
    body = '{"status": 204}\n{"status": 400}\n{"status": 201}\nnot-json\n'
    assert parse_batch_response(body) == (2, 1)


def make_spool_transport(spool_dir):
    """Batch transport that spools requests to disk — foreachPartition
    runs in a separate Python worker, so in-memory capture won't do.
    A closure (pickled by value) rather than a test-module class
    (pickled by reference, unimportable on the worker)."""
    spool_dir = str(spool_dir)

    def _call(method, url, headers=None, json_body=None,
              timeout=60.0, data=None, auth=None):
        import json as _json
        import os
        import uuid

        ops = [_json.loads(l) for l in data.splitlines()]
        with open(os.path.join(spool_dir, f"{uuid.uuid4()}.json"), "w") as f:
            _json.dump(ops, f)
        return HttpResponse(
            status=200,
            body="\n".join(_json.dumps({"status": 204}) for _ in ops),
        )

    return _call


def read_spool(spool_dir):
    import os

    batches = []
    for name in sorted(os.listdir(spool_dir)):
        with open(os.path.join(spool_dir, name)) as f:
            batches.append(json.load(f))
    return batches


def test_batch_upsert_http(spark, tmp_path):
    rows = spark.createDataFrame(
        [(f"MBI{i}", f"v{i}") for i in range(7)], "mbi string, val string"
    ).coalesce(1)
    transport = make_spool_transport(tmp_path)
    res = batch_upsert_http(
        rows, "https://dv/$batch", "contacts", ["mbi"],
        transport_factory=lambda: transport, batch_size=3,
    )
    assert isinstance(res, BatchResult)
    assert res.succeeded == 7 and res.failed == 0 and res.batches == 3
    batches = read_spool(tmp_path)
    assert sorted(len(b) for b in batches) == [1, 3, 3]  # chunked at 3
    flat = [op for batch in batches for op in batch]
    assert all(op["method"] == "PATCH" for op in flat)
    urls = {op["url"] for op in flat}
    assert "contacts(mbi='MBI0')" in urls  # alternate-key addressing


def test_batch_upsert_http_sends_headers(spark, tmp_path):
    """Caller headers (auth) reach every $batch request beside the
    continue-on-error preference."""
    spool_dir = str(tmp_path)

    def _call(method, url, headers=None, json_body=None,
              timeout=60.0, data=None, auth=None):
        import json as _json
        import os
        import uuid

        with open(os.path.join(spool_dir, f"{uuid.uuid4()}.json"), "w") as f:
            _json.dump(headers, f)
        n = len(data.splitlines())
        return HttpResponse(
            status=200, body="\n".join(_json.dumps({"status": 204}) for _ in range(n))
        )

    rows = spark.createDataFrame(
        [(f"MBI{i}", f"v{i}") for i in range(4)], "mbi string, val string"
    ).coalesce(1)
    res = batch_upsert_http(
        rows, "https://dv/$batch", "contacts", ["mbi"],
        transport_factory=lambda: _call, batch_size=2,
        headers={"Authorization": "Bearer dv"},
    )
    assert res.succeeded == 4 and res.batches == 2
    assert read_spool(tmp_path) == [
        {"Prefer": "odata.continue-on-error", "Authorization": "Bearer dv"}
    ] * 2


def test_batch_upsert_http_escapes_key_quotes(spark, tmp_path):
    """An alternate-key value holding a single quote is addressed as
    an OData string literal, with the quote doubled."""
    rows = spark.createDataFrame([("O'Brien", "v")], "mbi string, val string")
    transport = make_spool_transport(tmp_path)
    res = batch_upsert_http(
        rows, "https://dv/$batch", "contacts", ["mbi"],
        transport_factory=lambda: transport,
    )
    assert res.succeeded == 1
    [[op]] = read_spool(tmp_path)
    assert op["url"] == "contacts(mbi='O''Brien')"


def test_batch_upsert_http_create_update_split(spark, tmp_path):
    rows = spark.createDataFrame([("k1", "x"), ("k2", "y")], "k string, v string")
    key_map = spark.createDataFrame([("k1", "G-1")], "k string, guid string")
    marked = classify_create_update(rows, key_map, ["k"]).coalesce(1)
    transport = make_spool_transport(tmp_path)
    res = batch_upsert_http(
        marked, "https://dv/$batch", "contacts", ["k"],
        transport_factory=lambda: transport, batch_size=10,
    )
    assert res.succeeded == 2
    ops = {op["method"]: op for batch in read_spool(tmp_path) for op in batch}
    assert ops["PATCH"]["url"] == "contacts(G-1)"
    assert ops["PATCH"]["headers"] == {"If-Match": "*"}
    assert ops["POST"]["url"] == "contacts"


def test_batch_upsert_http_delete_and_skip(spark, tmp_path):
    """_op='delete' rows become DELETE ops in the batch payload;
    _op='skip' rows emit nothing; the response parse counts the
    DELETE's 204 like any other success."""
    from pyspark.sql import functions as F

    rows = spark.createDataFrame(
        [("k1", "active"), ("k2", "canceled"), ("k3", "canceled")],
        "k string, status string",
    )
    key_map = spark.createDataFrame(
        [("k1", "G-1"), ("k2", "G-2")], "k string, guid string"
    )
    marked = classify_create_update(
        rows, key_map, ["k"], delete_when=F.col("status") == "canceled"
    ).coalesce(1)
    transport = make_spool_transport(tmp_path)
    res = batch_upsert_http(
        marked, "https://dv/$batch", "contacts", ["k"],
        transport_factory=lambda: transport, batch_size=10,
    )
    flat = [op for batch in read_spool(tmp_path) for op in batch]
    assert res.succeeded == 2 and res.failed == 0  # k3 skipped entirely
    by_method = {op["method"]: op for op in flat}
    assert by_method["DELETE"]["url"] == "contacts(G-2)"
    assert by_method["DELETE"]["headers"] == {"If-Match": "*"}
    assert "body" not in by_method["DELETE"]
    assert by_method["PATCH"]["url"] == "contacts(G-1)"
    assert len(flat) == 2


def make_flaky_transport(spool_dir, marker_dir, fail_times=1, mode="raise"):
    """Transport that fails the first ``fail_times`` attempts of each
    distinct payload (marker files track attempts — foreachPartition
    workers are separate processes) then behaves like the spool
    transport. mode='raise' throws; mode='503' returns HTTP 503."""
    spool_dir, marker_dir = str(spool_dir), str(marker_dir)
    inner = make_spool_transport(spool_dir)

    def _call(method, url, headers=None, json_body=None,
              timeout=60.0, data=None, auth=None):
        import hashlib
        import os

        key = hashlib.md5(data.encode()).hexdigest()
        marker = os.path.join(marker_dir, f"attempts_{key}")
        n = len(os.listdir(marker)) if os.path.isdir(marker) else 0
        os.makedirs(marker, exist_ok=True)
        open(os.path.join(marker, str(n)), "w").close()
        if n < fail_times:
            if mode == "raise":
                raise ConnectionError("flaky")
            return HttpResponse(status=int(mode), body="busy")
        return _call_inner(method, url, headers, json_body, timeout, data)

    def _call_inner(method, url, headers, json_body, timeout, data):
        return inner(method, url, headers=headers, json_body=json_body,
                     timeout=timeout, data=data)

    return _call


def test_batch_upsert_retry_budget_recovers(spark, tmp_path):
    """Each batch's first attempt dies (transport exception); the
    retry budget resends the SAME payload and every op lands. Also
    exercised with HTTP 503 instead of an exception."""
    for mode in ("raise", "503"):
        spool = tmp_path / mode
        markers = tmp_path / f"{mode}_markers"
        spool.mkdir()
        markers.mkdir()
        rows = spark.createDataFrame(
            [(f"M{i}", f"v{i}") for i in range(7)], "mbi string, val string"
        ).coalesce(1)
        transport = make_flaky_transport(
            spool, markers, fail_times=1, mode=mode
        )
        res = batch_upsert_http(
            rows, "https://dv/$batch", "contacts", ["mbi"],
            transport_factory=lambda: transport, batch_size=3,
            retries=2, sleeper=lambda s: None,
        )
        assert res.succeeded == 7 and res.failed == 0, (mode, res)
        assert res.batches == 3 and res.retried == 3, (mode, res)
        flat = [op for b in read_spool(spool) for op in b]
        assert len(flat) == 7  # delivered exactly once despite retries


def test_batch_upsert_retry_budget_exhausted_continues(spark, tmp_path):
    """A batch that out-fails its budget counts its ops failed and
    the stream continues — no exception, later batches still land."""
    rows = spark.createDataFrame(
        [(f"M{i}", f"v{i}") for i in range(6)], "mbi string, val string"
    ).coalesce(1)
    # every attempt 503s; a budget of 1 retry can't save any batch
    spool = tmp_path / "spool"
    markers = tmp_path / "markers"
    spool.mkdir()
    markers.mkdir()
    transport = make_flaky_transport(spool, markers, fail_times=99, mode="503")
    res = batch_upsert_http(
        rows, "https://dv/$batch", "contacts", ["mbi"],
        transport_factory=lambda: transport, batch_size=3,
        retries=1, sleeper=lambda s: None,
    )
    assert res.succeeded == 0 and res.failed == 6
    assert res.batches == 2 and res.retried == 2
    assert read_spool(spool) == []  # nothing ever delivered


def _create_rows(spark, n=3):
    """Rows classified as POST creates (op column, no guid)."""
    return spark.createDataFrame(
        [(f"K{i}", f"v{i}", "create", None) for i in range(n)],
        "k string, val string, _op string, _guid string",
    ).coalesce(1)


def test_batch_upsert_post_batch_fails_fast_on_ambiguous(spark, tmp_path):
    """A batch containing POST creates must NOT burn retries on an
    AMBIGUOUS failure (transport exception or 5xx): the server may
    already have applied the batch, so a re-send would duplicate the
    created records. All ops fail immediately, retried stays 0, and
    nothing is ever delivered twice. Pins the r9 idempotency-aware
    retry change (sinks/entity.py flush())."""
    for mode in ("raise", "503"):
        spool = tmp_path / f"post_{mode}"
        markers = tmp_path / f"post_{mode}_markers"
        spool.mkdir()
        markers.mkdir()
        transport = make_flaky_transport(
            spool, markers, fail_times=1, mode=mode
        )
        res = batch_upsert_http(
            _create_rows(spark), "https://dv/$batch", "contacts", ["k"],
            transport_factory=lambda: transport, batch_size=10,
            retries=3, sleeper=lambda s: None,
        )
        assert res.failed == 3 and res.succeeded == 0, (mode, res)
        assert res.retried == 0, (mode, res)  # fail-fast: no re-send
        assert read_spool(spool) == [], mode  # never delivered at all


def test_batch_upsert_post_batch_retries_on_429(spark, tmp_path):
    """HTTP 429 means the server REJECTED the batch before processing
    — safe to retry even for POST creates. One 429 then success:
    every create lands exactly once, retried == 1."""
    spool = tmp_path / "spool"
    markers = tmp_path / "markers"
    spool.mkdir()
    markers.mkdir()
    transport = make_flaky_transport(spool, markers, fail_times=1, mode="429")
    res = batch_upsert_http(
        _create_rows(spark), "https://dv/$batch", "contacts", ["k"],
        transport_factory=lambda: transport, batch_size=10,
        retries=2, sleeper=lambda s: None,
    )
    assert res.succeeded == 3 and res.failed == 0
    assert res.retried == 1
    flat = [op for b in read_spool(spool) for op in b]
    assert len(flat) == 3  # exactly-once delivery
    assert all(op["method"] == "POST" for op in flat)


def test_batch_upsert_segregates_posts_into_own_batches(spark, tmp_path):
    """POST creates get their OWN $batch requests (r10 ADVICE): mixed
    input yields separate all-PATCH and all-POST batches on the wire,
    the PATCH batch keeps its ambiguous-5xx retry budget, and the
    POST batch still fails fast — one create no longer disables
    retry for the idempotent ops it used to share a batch with."""
    rows = spark.createDataFrame(
        [
            ("K1", "v1", "create", None),
            ("K2", "v2", "update", "G-2"),
        ],
        "k string, val string, _op string, _guid string",
    ).coalesce(1)

    # clean path: two homogeneous batches, one per method
    spool = tmp_path / "spool"
    markers = tmp_path / "markers"
    spool.mkdir()
    markers.mkdir()
    transport = make_flaky_transport(spool, markers, fail_times=0)
    res = batch_upsert_http(
        rows, "https://dv/$batch", "contacts", ["k"],
        transport_factory=lambda: transport, batch_size=10,
        retries=3, sleeper=lambda s: None,
    )
    assert res.succeeded == 2 and res.failed == 0
    assert res.batches == 2
    batches = read_spool(spool)
    assert len(batches) == 2
    assert all(len({op["method"] for op in b}) == 1 for b in batches)
    assert {b[0]["method"] for b in batches} == {"PATCH", "POST"}

    # flaky path: every batch's FIRST attempt 503s. The PATCH batch
    # retries and lands; the POST batch fails fast, never delivered.
    spool2 = tmp_path / "spool2"
    markers2 = tmp_path / "markers2"
    spool2.mkdir()
    markers2.mkdir()
    t2 = make_flaky_transport(spool2, markers2, fail_times=1, mode="503")
    res2 = batch_upsert_http(
        rows, "https://dv/$batch", "contacts", ["k"],
        transport_factory=lambda: t2, batch_size=10,
        retries=3, sleeper=lambda s: None,
    )
    assert res2.succeeded == 1 and res2.failed == 1
    assert res2.retried == 1
    flat = [op for b in read_spool(spool2) for op in b]
    assert len(flat) == 1 and flat[0]["method"] == "PATCH"


def test_batch_upsert_max_inflight_bounds_streams(spark, tmp_path):
    """max_inflight_batches=n repartitions the rows to n partitions —
    one serial HTTP stream each — so with batch_size above the row
    count the request count IS the partition bound."""
    rows = spark.createDataFrame(
        [(f"M{i}", f"v{i}") for i in range(10)], "mbi string, val string"
    ).repartition(8)
    transport = make_spool_transport(tmp_path)
    res = batch_upsert_http(
        rows, "https://dv/$batch", "contacts", ["mbi"],
        transport_factory=lambda: transport, batch_size=500,
        max_inflight_batches=2,
    )
    assert res.succeeded == 10 and res.failed == 0
    assert res.batches <= 2  # bounded concurrent streams
    flat = [op for b in read_spool(tmp_path) for op in b]
    assert len(flat) == 10


def _fanout_routes():
    t = FakeTransport()
    t.route("POST", "https://lk/patient/p1",
            ok([{"v": "a", "nested": {"x": 1}}]))
    t.route("POST", "https://lk/patient/p2", HttpResponse(404))  # skipped
    t.route("POST", "https://lk/patient/p3", ok([{"v": "b"}, {"v": "c"}]))
    return t


def test_entity_fanout_auto_stays_on_driver_below_threshold(spark):
    """The auto rule: under the threshold the reference-faithful
    sequential driver loop runs — exactly ONE transport is
    constructed, and it has already made every call by the time the
    source returns."""
    t = _fanout_routes()
    factories = []

    def factory():
        factories.append(1)
        return t

    df = entity_fanout_source(
        spark, factory, ["p1", "p2", "p3"],
        lambda i: f"https://lk/patient/{i}",
        api_delay_ms=0, sleeper=NOSLEEP, distribute_threshold=500,
    )
    assert len(factories) == 1 and len(t.calls) == 3
    rows = {(r.v, r._source_patient_id) for r in df.collect()}
    assert rows == {("a", "p1"), ("b", "p3"), ("c", "p3")}


def test_entity_fanout_auto_distributes_at_threshold(spark, tmp_path):
    """AUTO mode: at/over the threshold the executor mapInPandas path
    runs (one transport per partition — observed via marker files,
    since executor state never returns to the driver) and returns the
    SAME stringified-record schema as the driver loop, columns sorted
    by name. Every id is fetched exactly once even though the source
    runs a key-union job plus the caller's collect (the raw fetch
    frame is persisted)."""
    calls_dir = tmp_path / "calls"
    fact_dir = tmp_path / "fact"
    calls_dir.mkdir()
    fact_dir.mkdir()
    cd, fd = str(calls_dir), str(fact_dir)

    def factory():  # local def -> cloudpickled by value to executors
        import json as _json
        import os as _os
        import uuid as _uuid

        from ulh_etl_spark.sources.http import HttpResponse as _R

        open(_os.path.join(fd, _uuid.uuid4().hex), "w").close()

        class T:
            def __call__(self, method, url, headers=None, json_body=None,
                         timeout=60.0, data=None, auth=None):
                eid = url.rsplit("/", 1)[1]
                with open(_os.path.join(cd, _uuid.uuid4().hex), "w") as f:
                    f.write(eid)
                if eid == "p2":
                    return _R(404)
                if eid == "p1":
                    return _R(200, _json.dumps([{"v": "a", "nested": {"x": 1}}]))
                return _R(200, _json.dumps([{"v": "b"}, {"v": "c"}]))

        return T()

    df = entity_fanout_source(
        spark, factory, ["p1", "p2", "p3"],
        lambda i: f"https://lk/patient/{i}",
        api_delay_ms=0, distribute_threshold=3,
    )
    assert len(list(fact_dir.iterdir())) > 1  # one transport per partition
    assert df.columns == sorted(df.columns)
    rows = {(r.v, r._source_patient_id) for r in df.collect()}
    assert rows == {("a", "p1"), ("b", "p3"), ("c", "p3")}
    fetched = sorted(p.read_text() for p in calls_dir.iterdir())
    assert fetched == ["p1", "p2", "p3"]  # exactly once each
    # nested values stringified identically to the driver path
    nested = {r.nested for r in df.collect() if r.v == "a"}
    assert nested == {json.dumps({"x": 1})}


def test_entity_fanout_auto_respects_pacing(spark):
    """AUTO mode must NOT silently turn a paced (rate-limited) caller
    into N concurrent per-partition callers: explicit api_delay_ms > 0
    keeps the sequential driver loop even over the threshold."""
    t = _fanout_routes()
    df = entity_fanout_source(
        spark, lambda: t, ["p1", "p2", "p3"],
        lambda i: f"https://lk/patient/{i}",
        api_delay_ms=2000, sleeper=NOSLEEP, distribute_threshold=3,
    )
    # sequential: the single FakeTransport has made all calls already
    assert len(t.calls) == 3
    rows = {(r.v, r._source_patient_id) for r in df.collect()}
    assert rows == {("a", "p1"), ("b", "p3"), ("c", "p3")}


def test_entity_fanout_paths_emit_same_column_order(spark):
    """Sequential and distributed paths must agree on column order
    (sorted by name), so a workload crossing the auto threshold does
    not flip its output schema."""
    t = _fanout_routes()
    df = entity_fanout_source(
        spark, lambda: t, ["p1", "p3"],
        lambda i: f"https://lk/patient/{i}",
        api_delay_ms=0, sleeper=NOSLEEP,
    )
    assert df.columns == sorted(df.columns)


def test_entity_fanout_spool_fetches_once_durably(spark, tmp_path):
    """spool_path: the raw fetch results land in parquet and every
    downstream pass (key union, parse, caller collects) reads the
    files — each id fetched exactly once, nothing cache-resident."""
    calls_dir = tmp_path / "calls"
    calls_dir.mkdir()
    cd = str(calls_dir)

    def factory():
        import json as _json
        import os as _os
        import uuid as _uuid

        from ulh_etl_spark.sources.http import HttpResponse as _R

        class T:
            def __call__(self, method, url, headers=None, json_body=None,
                         timeout=60.0, data=None, auth=None):
                eid = url.rsplit("/", 1)[1]
                with open(_os.path.join(cd, _uuid.uuid4().hex), "w") as f:
                    f.write(eid)
                return _R(200, _json.dumps([{"v": f"val_{eid}"}]))

        return T()

    spool = str(tmp_path / "spool")
    df = entity_fanout_source(
        spark, factory, ["p1", "p2", "p3"],
        lambda i: f"https://lk/patient/{i}",
        api_delay_ms=0, distribute_threshold=3, spool_path=spool,
    )
    # collect twice: re-materialization must re-read the spool, not re-fetch
    for _ in range(2):
        rows = {(r.v, r._source_patient_id) for r in df.collect()}
        assert rows == {("val_p1", "p1"), ("val_p2", "p2"), ("val_p3", "p3")}
    fetched = sorted(p.read_text() for p in calls_dir.iterdir())
    assert fetched == ["p1", "p2", "p3"]  # exactly once each
    import os

    assert any(f.endswith(".parquet") for f in os.listdir(spool))


def test_entity_fanout_dataframe_ids_distribute_without_driver_list(spark, tmp_path):
    """DataFrame id input + distributed mode: ids stay a frame
    end-to-end (the auto decision uses count(), not a driver
    collect) and results match the driver path."""
    cd = str(tmp_path)

    def factory():
        import json as _json
        import os as _os
        import uuid as _uuid

        from ulh_etl_spark.sources.http import HttpResponse as _R

        class T:
            def __call__(self, method, url, headers=None, json_body=None,
                         timeout=60.0, data=None, auth=None):
                eid = url.rsplit("/", 1)[1]
                with open(_os.path.join(cd, _uuid.uuid4().hex), "w") as f:
                    f.write(eid)
                return _R(200, _json.dumps([{"v": f"val_{eid}"}]))

        return T()

    ids_df = spark.createDataFrame(
        [("p1",), ("p2",), ("p1",), ("p3",)], "pid string"
    )
    df = entity_fanout_source(
        spark, factory, ids_df, lambda i: f"https://lk/patient/{i}",
        api_delay_ms=0, distribute_threshold=3,  # 3 distinct ids -> auto ON
    )
    rows = {(r.v, r._source_patient_id) for r in df.collect()}
    assert rows == {("val_p1", "p1"), ("val_p2", "p2"), ("val_p3", "p3")}
    import pathlib

    fetched = sorted(p.read_text() for p in pathlib.Path(cd).iterdir())
    assert fetched == ["p1", "p2", "p3"]  # distinct, exactly once each


def test_classify_snapshot_semantics(spark, tmp_path):
    """SURVEY §7.4 stale-key-map risk, pinned: 'update' wins iff the
    key exists at SNAPSHOT time — the moment the key_map plan was
    constructed (a parquet read pins its file listing then). A GUID
    appended concurrently after the snapshot must NOT flip that run's
    'create' (same policy as the reference's collected dict), while a
    FRESH key_map read sees it — so re-classification after the
    append yields 'update', which is how a non-racing rerun heals."""
    km_dir = str(tmp_path / "keymap")
    spark.createDataFrame(
        [("MBI1", "G-1")], "mbi string, guid string"
    ).write.parquet(km_dir)
    snapshot = spark.read.parquet(km_dir)
    rows = spark.createDataFrame(
        [("MBI1", "v1"), ("MBI2", "v2")], "mbi string, v string"
    )
    classified = classify_create_update(rows, snapshot, ["mbi"])

    # concurrent run creates MBI2 AFTER this run's snapshot
    spark.createDataFrame(
        [("MBI2", "G-2")], "mbi string, guid string"
    ).write.mode("append").parquet(km_dir)

    got = {r.mbi: (r._op, r._guid) for r in classified.collect()}
    assert got == {"MBI1": ("update", "G-1"), "MBI2": ("create", None)}

    fresh = {
        r.mbi: r._op
        for r in classify_create_update(
            rows, spark.read.parquet(km_dir), ["mbi"]
        ).collect()
    }
    assert fresh == {"MBI1": "update", "MBI2": "update"}
