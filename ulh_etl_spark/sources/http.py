"""HTTP API source adapters (reference S7-S12).

The reference ingests three REST APIs with distinct access patterns:
refresh-handshake polling (HealthJump, API_TO_RAW_SNOWFLAKE.py:344-424),
OAuth2 client-credentials with retry/backoff/429-handling (ELLKAY,
ELLKAY_API_TO_RAW_SNOWFLAKE.py:258-389), token pagination
(``beginNext``, :625-691), per-entity fan-out (:548-623), OData
``@odata.nextLink`` paging (REFINED_SNOWFLAKE_TO_CURATED_SNOWFLAKE.py:
1705-1754), and a basic-auth hierarchy walk (Rater8_Reviews.ipynb).

Design: every adapter takes a ``transport`` callable
``(method, url, headers, json_body, timeout) -> HttpResponse`` so
tests inject fakes and production supplies a requests-backed one
(import-gated — the engine has no hard dependency on ``requests``).
Rate limiting, retries, and pagination live HERE, on the driver —
Spark only sees the resulting DataFrame. Fetches are driver-side by
design: these APIs are rate-limited single-tenant endpoints (the
bottleneck is the remote API, not the client), and results are small.
The one shape that scales is ``entity_fanout_source``'s executor mode,
which fans per-entity calls across partitions via ``mapInPandas`` once
the id set is large and the caller sets no pacing.

Secrets arrive as values resolved by the caller from env/secret-store
aliases (SURVEY §0 — never inline credentials in config).
"""

from __future__ import annotations

import json
import re
import time
from dataclasses import dataclass, field
from functools import reduce
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

from ulh_etl_spark.session import local_frame


@dataclass
class HttpResponse:
    status: int
    body: str = ""
    headers: dict[str, str] = field(default_factory=dict)

    def json(self) -> Any:
        return json.loads(self.body)


Transport = Callable[..., HttpResponse]
Sleeper = Callable[[float], None]


def default_transport() -> Transport:
    """requests-backed transport (gated: requests may be absent)."""
    import requests  # noqa: deferred so the engine works without it

    def _call(method, url, headers=None, json_body=None, timeout=60.0, data=None,
              auth=None):
        r = requests.request(
            method, url, headers=headers, json=json_body, data=data,
            timeout=timeout, auth=auth,
        )
        return HttpResponse(status=r.status_code, body=r.text, headers=dict(r.headers))

    return _call


# ------------------------------------------------------------------ retry

# The reference's request policy (ELLKAY_API_TO_RAW_SNOWFLAKE.py:331-389).
_TIMEOUT_S = 60.0
_BACKOFF_S = 5.0
_RATE_LIMIT_WAIT_S = 30.0


def retry_call(
    transport: Transport,
    method: str,
    url: str,
    headers: dict | None = None,
    json_body: Any = None,
    retries: int = 3,
    sleeper: Sleeper = time.sleep,
) -> HttpResponse:
    """Retry wrapper with the reference's policy (ELLKAY_API_TO_RAW_
    SNOWFLAKE.py:331-389): ``retries`` attempts of 60 s each, linear
    5 s backoff on errors, a fixed 30 s wait on HTTP 429 / rate-limit
    bodies."""
    last: HttpResponse | None = None
    for attempt in range(1, retries + 1):
        try:
            resp = transport(method, url, headers=headers, json_body=json_body,
                             timeout=_TIMEOUT_S)
        except Exception:
            if attempt == retries:
                raise
            sleeper(_BACKOFF_S * attempt)
            continue
        if resp.status == 429 or "rate limit" in resp.body[:200].lower():
            last = resp
            if attempt < retries:
                sleeper(_RATE_LIMIT_WAIT_S)
            continue
        if resp.status >= 500:
            last = resp
            if attempt < retries:
                sleeper(_BACKOFF_S * attempt)
            continue
        return resp
    return last if last is not None else HttpResponse(status=599)


# ------------------------------------------------------------------ auth


@dataclass
class OAuth2ClientCredentials:
    """S8 auth: OAuth2 client-credentials token fetch; yields Bearer
    headers plus any extra static headers (the reference adds a
    ``SiteServiceKey``, ELLKAY_API_TO_RAW_SNOWFLAKE.py:258-308)."""

    token_url: str
    client_id: str
    client_secret: str
    extra_headers: dict[str, str] = field(default_factory=dict)
    _token: str | None = None

    def headers(self, transport: Transport) -> dict[str, str]:
        if self._token is None:
            resp = transport(
                "POST", self.token_url,
                headers={"Content-Type": "application/x-www-form-urlencoded"},
                json_body={
                    "grant_type": "client_credentials",
                    "client_id": self.client_id,
                    "client_secret": self.client_secret,
                },
            )
            if resp.status != 200:
                raise RuntimeError(f"token fetch failed: HTTP {resp.status}")
            self._token = resp.json()["access_token"]
        return {"Authorization": f"Bearer {self._token}", **self.extra_headers}


# ------------------------------------------------------- record handling


def dotted_path(obj: Any, path: str) -> Any:
    """Walk ``a.b.c`` into nested dicts (reference path walker,
    API_TO_RAW_SNOWFLAKE.py:283-288)."""
    return reduce(lambda d, k: d[k], path.split("."), obj)


def extract_records(payload: Any) -> list[dict]:
    """Generic record extraction (ELLKAY_API_TO_RAW_SNOWFLAKE.py:
    391-440): a list of dicts as-is; a dict -> its first list-of-dicts
    value; else the dict itself as one record."""
    if isinstance(payload, list):
        return [r for r in payload if isinstance(r, dict)]
    if isinstance(payload, dict):
        for v in payload.values():
            if isinstance(v, list) and (not v or isinstance(v[0], dict)):
                return [r for r in v if isinstance(r, dict)]
        return [payload]
    return []


def _cell(v: Any) -> str | None:
    """One API value as a string column value: nested dict/list as
    JSON (the reference, ELLKAY...py:713-717), None as NULL, anything
    else through ``str``."""
    if isinstance(v, (dict, list)):
        return json.dumps(v)
    return None if v is None else str(v)


def records_to_df(spark: SparkSession, records: list[dict]) -> DataFrame:
    """API rows -> DataFrame of string columns (``_cell``) — callers
    wanting typed structs can parse with ``from_json`` downstream."""
    if not records:
        return local_frame(spark, [], "dummy string").drop("dummy")
    cols: list[str] = []
    for r in records:
        for k in r:
            if k not in cols:
                cols.append(k)
    flat = [tuple(_cell(r.get(c)) for c in cols) for r in records]
    schema = ", ".join(f"`{c}` string" for c in cols)
    return local_frame(spark, flat, schema)


# ---------------------------------------------------------------- sources

# Token field of the token-paginated API, and the paging sources' page cap.
_TOKEN_FIELD = "nextToken"
_MAX_PAGES = 1000


def extract_query_id(api_url: str) -> str | None:
    """Parse the hosted-query id out of a configured results URL
    (``.../api/queries/3977/results.json`` -> ``"3977"``) — the
    reference's config model stores only the results URL and derives
    the rest (API_TO_RAW_SNOWFLAKE.py:290-298). None when the URL
    doesn't follow the hosted-query shape."""
    m = re.search(r"/api/queries/(\d+)/", api_url)
    return m.group(1) if m else None


def build_refresh_url(api_url: str) -> str | None:
    """Derive the refresh endpoint from a results URL
    (``https://host/api/queries/3977/results.json`` ->
    ``https://host/api/queries/3977/refresh``), mirroring the
    reference's scheme+host re-composition
    (API_TO_RAW_SNOWFLAKE.py:300-311)."""
    m = re.match(r"(https?://[^/]+)/api/queries/(\d+)/", api_url)
    if not m:
        return None
    return f"{m.group(1)}/api/queries/{m.group(2)}/refresh"


def refresh_handshake_source(
    spark: SparkSession,
    transport: Transport,
    results_url: str,
    refresh_url: str | None = None,
    headers: dict | None = None,
    wait_s: float = 120.0,
    sleeper: Sleeper = time.sleep,
) -> DataFrame:
    """S7 (HealthJump): POST a refresh, wait a fixed interval for the
    remote query to rerun, GET results.json, extract the rows at
    ``query_result.data.rows`` (API_TO_RAW_SNOWFLAKE.py:344-424). ``refresh_url`` defaults
    to the one derived from ``results_url`` (the reference stores only
    the results URL in config and composes the refresh endpoint)."""
    if refresh_url is None:
        refresh_url = build_refresh_url(results_url)
        if refresh_url is None:
            raise ValueError(
                f"cannot derive refresh URL from {results_url!r}; "
                "pass refresh_url explicitly"
            )
    resp = retry_call(transport, "POST", refresh_url, headers=headers, sleeper=sleeper)
    if resp.status >= 400:
        raise RuntimeError(f"refresh failed: HTTP {resp.status}")
    sleeper(wait_s)
    resp = retry_call(transport, "GET", results_url, headers=headers, sleeper=sleeper)
    if resp.status >= 400:
        raise RuntimeError(f"results fetch failed: HTTP {resp.status}")
    rows = dotted_path(resp.json(), "query_result.data.rows")
    return records_to_df(spark, extract_records(rows))


def single_call_source(
    spark: SparkSession,
    transport: Transport,
    url: str,
    method: str = "POST",
    headers: dict | None = None,
    json_body: Any = None,
) -> DataFrame:
    """S8 single-call fetch (ELLKAY single pattern)."""
    resp = retry_call(transport, method, url, headers=headers, json_body=json_body)
    if resp.status >= 400:
        raise RuntimeError(f"fetch failed: HTTP {resp.status}")
    return records_to_df(spark, extract_records(resp.json()))


def token_paginated_source(
    spark: SparkSession,
    transport: Transport,
    begin_url: str,
    next_url: str,
    headers: dict | None = None,
    json_body: Any = None,
    max_pages: int = _MAX_PAGES,
    sleeper: Sleeper = time.sleep,
) -> DataFrame:
    """S9 (``beginNext``): call Begin, then loop Next with the
    returned ``nextToken`` until exhausted, capped at ``max_pages``
    (ELLKAY_API_TO_RAW_SNOWFLAKE.py:625-691)."""
    records: list[dict] = []
    resp = retry_call(transport, "POST", begin_url, headers=headers,
                      json_body=json_body, sleeper=sleeper)
    if resp.status >= 400:
        raise RuntimeError(f"begin failed: HTTP {resp.status}")
    payload = resp.json()
    records.extend(extract_records(payload))
    token = payload.get(_TOKEN_FIELD) if isinstance(payload, dict) else None
    pages = 1
    while token and pages < max_pages:
        resp = retry_call(transport, "POST", next_url, headers=headers,
                          json_body={_TOKEN_FIELD: token}, sleeper=sleeper)
        if resp.status >= 400:
            raise RuntimeError(f"next page failed: HTTP {resp.status}")
        payload = resp.json()
        records.extend(extract_records(payload))
        token = payload.get(_TOKEN_FIELD) if isinstance(payload, dict) else None
        pages += 1
    return records_to_df(spark, records)


def entity_fanout_source(
    spark: SparkSession,
    transport_factory: Callable[[], Transport],
    ids: list[str] | DataFrame,
    url_for_id: Callable[[str], str],
    headers: dict | None = None,
    api_delay_ms: int | None = None,
    sleeper: Sleeper = time.sleep,
    distribute_threshold: int = 500,
    spool_path: str | None = None,
) -> DataFrame:
    """S10 ("patient loop"): one bodiless POST per entity id, tagging
    every result row with its source id in ``_source_patient_id``;
    continue on per-id failure; paced
    by ``api_delay_ms`` (ELLKAY_API_TO_RAW_SNOWFLAKE.py:548-623).
    ``api_delay_ms=None`` (default) = the reference's 2 s pacing in
    the sequential loop; the executor path is never paced.

    ``ids`` may be a DataFrame (its first column, made distinct — the
    reference's ``SELECT DISTINCT patientId``). A DataFrame id set
    NEVER round-trips through the driver when the fan-out
    distributes: the driver loop needs a Python list, but the
    executor path keeps ids as a frame end-to-end (a 100M-id corpus
    must not materialize on the driver just to be scattered back).

    Path selection: the fan-out runs on executors via
    ``mapInPandas`` (one transport per partition) when the id count
    reaches ``distribute_threshold`` AND the caller asked for no
    pacing; otherwise it is the reference-faithful sequential driver
    loop. A driver loop over 100k ids at the reference's 2 s pacing is
    a 2-day serial job; the executor path is the only shape that
    survives scale, so scale must not depend on the caller remembering
    a flag. But an explicit ``api_delay_ms > 0`` means the API is
    rate-limited — it must NOT silently turn one paced caller into N
    concurrent ones, so a paced fan-out always stays on the driver.
    Both paths return the SAME all-string stringified-record schema
    with columns sorted by name (a first-seen order would be
    partition-order-dependent in the distributed path).

    ``spool_path``: durable staging for the distributed path. The
    fetches are side-effecting HTTP calls that must run exactly once;
    with a spool the raw records are written to parquet there and all
    downstream passes read the files. Without it the raw frame is
    cache-persisted — fine locally, but a lost executor silently
    re-fetches its partition and the cache lives until the session
    clears it, so at cluster scale pass a shared-FS spool.
    """
    ids_frame: DataFrame | None = None
    if isinstance(ids, DataFrame):
        ids_frame = ids.select(ids.columns[0]).toDF("entity_id").distinct()
        # limit-bounded probe: "are there >= threshold ids?" must not
        # pay a full count over a 100M-id frame to decide a boolean —
        # touch at most `threshold` rows.
        distribute = (
            not api_delay_ms
            and ids_frame.limit(distribute_threshold).count()
            >= distribute_threshold
        )
        if not distribute:
            ids = [r[0] for r in ids_frame.collect()]
    else:
        distribute = not api_delay_ms and len(ids) >= distribute_threshold

    def fetch_one(transport: Transport, eid: str) -> list[dict]:
        resp = retry_call(transport, "POST", url_for_id(eid), headers=headers,
                          sleeper=sleeper)
        if resp.status >= 400:
            return []  # continue-on-error per id (reference :607-614)
        recs = extract_records(resp.json())
        for r in recs:
            r["_source_patient_id"] = eid
        return recs

    if not distribute:
        delay_ms = 2000 if api_delay_ms is None else api_delay_ms
        transport = transport_factory()
        records: list[dict] = []
        for i, eid in enumerate(ids):
            if i:
                sleeper(delay_ms / 1000.0)
            records.extend(fetch_one(transport, eid))
        out = records_to_df(spark, records)
        # same column order as the distributed path (sorted by name)
        return out.select(*sorted(out.columns)) if out.columns else out

    # executor path (unpaced): ids scattered across partitions, one
    # transport per partition
    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    ids_df = (
        ids_frame
        if ids_frame is not None
        else local_frame(spark, [(i,) for i in ids], "entity_id string")
    )

    def _run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        transport = transport_factory()
        for pdf in batches:
            for eid in pdf["entity_id"]:
                recs = fetch_one(transport, eid)
                if recs:
                    yield pd.DataFrame(
                        {"record_json": [json.dumps(r) for r in recs]}
                    )

    # The fetches are side-effecting HTTP calls — each id must execute
    # exactly once, with the key-union and parse passes reading the
    # already-fetched rows. A spool (durable parquet) guarantees that;
    # the persist fallback is best-effort (see docstring).
    raw = ids_df.mapInPandas(_run, schema="record_json string")
    cached: DataFrame | None = None
    if spool_path is not None:
        raw.write.mode("overwrite").parquet(spool_path)
        raw = spark.read.parquet(spool_path)
    else:
        raw = cached = raw.persist(StorageLevel.MEMORY_AND_DISK)
    keys = sorted(
        r["k"]
        for r in raw.select(
            F.explode(F.json_object_keys("record_json")).alias("k")
        )
        .distinct()
        .collect()
    )
    if not keys:
        if cached is not None:
            cached.unpersist()
        return records_to_df(spark, [])

    def _parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            recs = [json.loads(s) for s in pdf["record_json"]]
            yield pd.DataFrame(
                {
                    k: pd.array([_cell(r.get(k)) for r in recs], dtype="object")
                    for k in keys
                },
                columns=keys,
            )

    schema = ", ".join(f"`{c}` string" for c in keys)
    return raw.mapInPandas(_parse, schema=schema)


def odata_paged_source(
    spark: SparkSession,
    transport: Transport,
    url: str,
    headers: dict | None = None,
    sleeper: Sleeper = time.sleep,
) -> DataFrame:
    """S11 (Dataverse read): GET ``value`` pages of at most 5000 rows
    (``odata.maxpagesize``), follow ``@odata.nextLink`` until exhausted
    or 1000 pages (REFINED_SNOWFLAKE_TO_CURATED_SNOWFLAKE.py:
    1705-1754)."""
    hdrs = {"Prefer": "odata.maxpagesize=5000", **(headers or {})}
    records: list[dict] = []
    pages = 0
    while url and pages < _MAX_PAGES:
        resp = retry_call(transport, "GET", url, headers=hdrs, sleeper=sleeper)
        if resp.status >= 400:
            raise RuntimeError(f"odata fetch failed: HTTP {resp.status}")
        payload = resp.json()
        records.extend(payload.get("value", []))
        url = payload.get("@odata.nextLink")
        pages += 1
    return records_to_df(spark, records)


def hierarchy_walk_source(
    spark: SparkSession,
    transport: Transport,
    permissions_url: str,
    leaf_url: Callable[[dict, dict], str],
    headers: dict | None = None,
    sleeper: Sleeper = time.sleep,
) -> DataFrame:
    """S12 (rater8): walk /permissions -> practices -> employees, one
    leaf GET per (practice, employee); tolerate literal 'NULL' bodies
    (Rater8_Reviews.ipynb get_permissions/fetch_survey_data)."""
    resp = retry_call(transport, "GET", permissions_url, headers=headers,
                      sleeper=sleeper)
    if resp.status >= 400:
        raise RuntimeError(f"permissions fetch failed: HTTP {resp.status}")
    perms = resp.json()
    records: list[dict] = []
    for practice in perms.get("practices", []):
        for emp in practice.get("employees", []):
            leaf = retry_call(transport, "GET", leaf_url(practice, emp),
                              headers=headers, sleeper=sleeper)
            if leaf.status >= 400 or leaf.body.strip().upper() == "NULL":
                continue
            for r in extract_records(leaf.json()):
                r["_practice"] = practice.get("name", "")
                r["_employee"] = emp.get("id", emp.get("name", ""))
                records.append(r)
    return records_to_df(spark, records)
