"""Source adapters: staged files (listing, CSV/TXT/gz scans with one
shared option set, driver-side header probes, line counts), SQL query
sources, and HTTP APIs (refresh-handshake, OAuth2+retry, token
pagination, per-entity fan-out, OData paging, hierarchy walk) behind
one ``Source -> DataFrame`` protocol. The ingest config is parsed on
the driver by ``ulh_etl_spark.config.load_config``, not by a source."""

from ulh_etl_spark.sources.files import (  # noqa: F401
    FileInfo,
    csv_scan,
    list_stage_files,
)
from ulh_etl_spark.sources.http import (  # noqa: F401
    HttpResponse,
    OAuth2ClientCredentials,
    entity_fanout_source,
    hierarchy_walk_source,
    odata_paged_source,
    refresh_handshake_source,
    retry_call,
    single_call_source,
    token_paginated_source,
)
from ulh_etl_spark.sources.query import query_source  # noqa: F401
