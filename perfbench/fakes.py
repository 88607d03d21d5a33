"""In-process fake transports: the entity store's ``$batch`` endpoint
and a token-paginated patient API. No sockets are opened.

``BatchTransport`` answers every op of a batch with a 2xx status, except
that a seeded ~2% of batches are answered 429 on their first attempt.
Each response appends one line ``<status> <ops>`` to a log file, so the
benchmark can check the sink's retry and acknowledgement counts exactly.
The transport runs inside Spark's Python workers, which is why it is a
module-level class (pickled by reference) and logs to a file.
"""

from __future__ import annotations

import json
import zlib

from ulh_etl_spark.sources.http import HttpResponse

THROTTLE_ONE_IN = 50  # ~2% of batches get a 429 on first attempt


def throttled(seed: int, payload: str) -> bool:
    """Whether a batch payload is answered 429 on its first attempt."""
    return zlib.crc32(f"{seed}|{payload}".encode()) % THROTTLE_ONE_IN == 0


class BatchTransport:
    """One partition's ``$batch`` connection."""

    def __init__(self, log_path: str, seed: int):
        self.log_path = log_path
        self.seed = seed
        self.seen: set[int] = set()

    def _log(self, status: int, n_ops: int) -> None:
        with open(self.log_path, "a") as fh:
            fh.write(f"{status} {n_ops}\n")

    def __call__(self, method, url, headers=None, json_body=None, data=None,
                 timeout=None, **_):
        ops = [json.loads(line) for line in (data or "").splitlines() if line]
        key = zlib.crc32((data or "").encode())
        first = key not in self.seen
        self.seen.add(key)
        if first and throttled(self.seed, data or ""):
            self._log(429, len(ops))
            return HttpResponse(status=429, body="rate limited")
        statuses = [201 if op["method"] == "POST" else 204 for op in ops]
        self._log(200, len(ops))
        return HttpResponse(
            status=200, body="\n".join(json.dumps({"status": s}) for s in statuses)
        )


class BatchTransportFactory:
    """Picklable ``transport_factory`` for ``batch_upsert_http``."""

    def __init__(self, log_path: str, seed: int):
        self.log_path = log_path
        self.seed = seed

    def __call__(self) -> BatchTransport:
        return BatchTransport(self.log_path, self.seed)


def no_sleep(_seconds: float) -> None:
    """Retry backoff that does not wait (picklable ``sleeper``)."""


def read_batch_log(log_path: str) -> dict[str, int]:
    """Totals of one sync's batch log: answered batches, acknowledged
    ops and 429 answers."""
    batches = acked = throttles = 0
    try:
        with open(log_path) as fh:
            for line in fh:
                status, n = line.split()
                if status == "429":
                    throttles += 1
                else:
                    batches += 1
                    acked += int(n)
    except FileNotFoundError:
        pass
    return {"batches": batches, "acked": acked, "throttles": throttles}


class PagedApiTransport:
    """Driver-side fake of a Begin/Next token-paginated API. ``pages``
    is the list of record pages it serves; ``calls`` counts requests."""

    def __init__(self, pages: list[list[dict]]):
        self.pages = pages
        self.calls = 0

    def __call__(self, method, url, headers=None, json_body=None,
                 timeout=None, **_):
        self.calls += 1
        if url.endswith("/begin"):
            page = 0
        else:
            page = int((json_body or {})["nextToken"])
        body = {"patients": self.pages[page]}
        if page + 1 < len(self.pages):
            body["nextToken"] = str(page + 1)
        return HttpResponse(status=200, body=json.dumps(body))
