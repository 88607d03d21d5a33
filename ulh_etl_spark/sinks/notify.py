"""Notification sink (reference K9): webhook POSTs announcing run
status — the reference notifies a Logic App / Teams channel on
archive, error, and precheck failure, with linear-backoff retries
(RAW_ADLS_TO_RAW_SNOWFLAKE.py:771-860, :387-519;
ADLS_FILE_PRECHECK.py:242-367).

Driver-side, transport-injectable (same pattern as the HTTP sources);
``webhook_notifier`` adapts it to the pipeline's ``Notifier``
callback signature so the orchestrator stays transport-agnostic.
Notification failures never fail the pipeline (the reference logs
and continues) — they surface through the returned/logged status
only.
"""

from __future__ import annotations

import time
from typing import Callable

from ulh_etl_spark.sources.http import HttpResponse, Sleeper, Transport

# The reference's delivery policy (:283-284,844-845).
_ATTEMPTS = 3
_BACKOFF_S = 2.0
_TIMEOUT_S = 30.0


def post_notification(
    transport: Transport,
    url: str,
    payload: dict,
    sleeper: Sleeper = time.sleep,
) -> bool:
    """POST ``payload`` with the reference's retry policy (3 attempts
    of 30 s each, ``2 s * attempt`` linear backoff). Returns success;
    never raises."""
    for attempt in range(1, _ATTEMPTS + 1):
        try:
            resp = transport("POST", url, headers={"Content-Type": "application/json"},
                             json_body=payload, timeout=_TIMEOUT_S)
        except Exception:
            resp = HttpResponse(status=599)
        if 200 <= resp.status < 300:
            return True
        if attempt < _ATTEMPTS:
            sleeper(_BACKOFF_S * attempt)
    return False


def webhook_notifier(
    transport: Transport,
    url: str,
    sleeper: Sleeper = time.sleep,
    on_result: Callable[[str, bool], None] | None = None,
):
    """Adapt a webhook into the pipeline's ``Notifier`` callback:
    ``notify(kind, payload)`` posts ``{"event": kind, **payload}``.
    ``on_result`` observes delivery success per event (for logging)."""

    def _notify(kind: str, payload: dict) -> None:
        ok = post_notification(
            transport, url, {"event": kind, **payload}, sleeper=sleeper
        )
        if on_result:
            on_result(kind, ok)

    return _notify
