"""External entity-store upsert sink (reference K7 — the Dataverse
OData ``$batch`` path, REFINED_SNOWFLAKE_TO_CURATED_SNOWFLAKE.py:
472-648).

Semantics in the reference, reproduced here:
  - **alternate-key upsert**: PATCH addressing the entity by an
    alternate key (e.g. ``cr063_medicarenum='MBI'``) creates-or-
    updates atomically (:553-560);
  - **key-map update-vs-create**: rows whose composite key appears in
    a pre-fetched ``{key -> GUID}`` snapshot become GUID-PATCHes
    (update), the rest POSTs (create) (:767-801,917-977);
  - batching ≤1000 ops/request (configured 500), independent ops with
    ``Prefer: odata.continue-on-error``, success = counting HTTP
    status lines in the multipart response (:540-614).

Two implementations:
  - ``entity_mirror_merge``: the same upsert semantics as a MERGE into
    a local "entity mirror" table — distributed, deterministic, and
    oracle-testable (SURVEY §7.1 sinks).
  - ``batch_upsert_http``: the real HTTP writer — rows stream through
    ``foreachPartition``; each partition chunks into ``$batch``-style
    requests through an injectable transport. ``repartition(n)``
    upstream bounds request parallelism (SURVEY §4: batch sizing).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession

from ulh_etl_spark.sinks.tables import _merged_frame, _replace, merge_upsert

# classify_create_update's output columns, which batch_upsert_http reads.
OP_COL = "_op"
GUID_COL = "_guid"

# Linear backoff step between retries of one $batch request.
_BACKOFF_S = 0.5


@dataclass
class BatchResult:
    batches: int = 0
    succeeded: int = 0
    failed: int = 0
    creates: int = 0
    updates: int = 0
    retried: int = 0


def entity_mirror_merge(
    spark: SparkSession,
    mirror_table: str,
    rows: DataFrame,
    alternate_key: list[str],
    op_col: str | None = None,
) -> dict[str, int]:
    """Alternate-key upsert into the mirror table: the PATCH-by-
    alternate-key create-or-update, as a key-based MERGE. Returns
    {"updated": n, "inserted": n, "deleted": n} — the reference's
    create/update tallies (:1051-1055) plus the delete-on-canceled
    path (SURVEY §7.1 sink semantics: canceled appointments carry a
    delete flag and must leave the entity store).

    When ``op_col`` is given, rows with ``op_col == 'delete'`` are
    removed from the mirror by alternate key; all other rows upsert.
    The delete applies AFTER the upsert (a key present in both sets
    ends up deleted — matching the entity store, where the DELETE op
    in the same $batch wins over an earlier PATCH). Upsert and delete
    are one merged frame and one mirror rewrite: the delete keys are
    broadcast-anti-joined out of the merged rows, and every tally
    rides that one write."""
    from pyspark.sql import functions as F

    if op_col is None or op_col not in rows.columns:
        stats = merge_upsert(spark, mirror_table, rows, keys=alternate_key)
        stats["deleted"] = 0
        return stats

    # 'skip' = canceled rows with no synced GUID: the HTTP sink issues
    # no request for them, so the mirror must not upsert them either —
    # otherwise the mirror gains canceled entities the entity store
    # never created.
    upserts = rows.filter(
        F.col(op_col).isNull() | ~F.col(op_col).isin("delete", "skip")
    ).drop(op_col)
    merged, obs = _merged_frame(spark, mirror_table, upserts, alternate_key)
    del_keys = (
        rows.filter(F.col(op_col) == "delete")
        .select(*alternate_key).distinct().withColumn("_del", F.lit(1))
    )
    obs_del = Observation()
    marked = merged.join(F.broadcast(del_keys), alternate_key, "left").observe(
        obs_del, F.count(F.when(F.col("_del") == 1, 1)).alias("deleted")
    )
    _replace(
        spark, mirror_table,
        marked.filter(F.col("_del").isNull()).select(*merged.columns),
    )
    m = obs.get
    return {
        "updated": int(m["updated"]),
        "inserted": int(m["inserted"]),
        "deleted": int(obs_del.get["deleted"]),
    }


def classify_create_update(
    rows: DataFrame,
    key_map: DataFrame,
    keys: list[str],
    guid_col: str = "guid",
    delete_when: Column | None = None,
) -> DataFrame:
    """Key-map update-vs-create split (J4 as a broadcast join): rows
    gaining an ``OP_COL`` column ('update' with the snapshot GUID in
    ``GUID_COL``, else 'create'). ``guid_col`` names the GUID column of
    ``key_map``. The reference probes a collected dict per row
    (:767-801); a broadcast left join is the distributed equivalent.

    ``delete_when`` (e.g. ``F.col("status") == "canceled"``) marks
    matching rows 'delete' when the snapshot knows their GUID, and
    'skip' when it doesn't (nothing exists to delete — the reference
    silently drops canceled rows never synced).

    Snapshot semantics (SURVEY §7.4 stale-key-map risk): 'update'
    wins iff the key exists AT SNAPSHOT TIME = when ``key_map``'s
    plan was CONSTRUCTED (a parquet/table read pins its file listing
    then — pinned by test_classify_snapshot_semantics). A key whose
    entity is created concurrently AFTER the snapshot still
    classifies 'create' — the POST may duplicate the entity, which
    is the reference's behavior too (its collected dict is staler
    still); the mirror MERGE reconciles the MIRROR by key either
    way, and runs that must not race take a fresh key_map read."""
    from pyspark.sql import functions as F

    km = key_map.select(*keys, F.col(guid_col).alias(GUID_COL)).distinct()
    joined = rows.join(F.broadcast(km), keys, "left")
    known = F.col(GUID_COL).isNotNull()
    op = F.when(known, F.lit("update")).otherwise(F.lit("create"))
    if delete_when is not None:
        op = (
            F.when(delete_when & known, F.lit("delete"))
            .when(delete_when, F.lit("skip"))
            .otherwise(op)
        )
    return joined.withColumn(OP_COL, op)


def build_batch_payload(ops: list[dict]) -> str:
    """Serialize one ``$batch`` of independent operations. Each op:
    {"method": "PATCH"|"POST", "url": ..., "body": {...}}. The
    reference builds multipart/mixed with one changeset per op so ops
    stay independent (:540-585); we keep the JSON-lines shape (the
    transport owns wire format)."""
    return "\n".join(json.dumps(op) for op in ops)


def parse_batch_response(body: str) -> tuple[int, int]:
    """Count successes/failures from a batch response: one status
    per line, 2xx = success (the reference counts ``HTTP/1.1 2``
    status lines, :590-614)."""
    ok = bad = 0
    for line in body.splitlines():
        line = line.strip()
        if not line:
            continue
        try:
            status = int(json.loads(line).get("status", 0))
        except (ValueError, json.JSONDecodeError):
            continue
        if 200 <= status < 300:
            ok += 1
        else:
            bad += 1
    return ok, bad


def batch_upsert_http(
    rows: DataFrame,
    batch_url: str,
    entity_set: str,
    alternate_key: list[str],
    transport_factory: Callable[[], Callable],
    batch_size: int = 500,
    headers: dict | None = None,
    max_inflight_batches: int | None = None,
    retries: int = 1,
    sleeper: Callable[[float], None] | None = None,
) -> BatchResult:
    """Stream rows to the entity store in ``$batch`` chunks via
    ``foreachPartition``. Rows carrying ``OP_COL``/``GUID_COL`` (from
    ``classify_create_update``) become GUID-PATCH, DELETE or POST;
    otherwise every row is an alternate-key PATCH upsert, addressed by
    OData string literals (a quote inside a value is doubled).
    Per-batch results are aggregated through a Spark accumulator
    (driver never holds rows).

    ``max_inflight_batches`` caps CONCURRENT requests against the
    entity store: each partition is one serial HTTP stream, so
    repartitioning to n partitions bounds inflight ``$batch`` calls
    at n regardless of cluster size — the knob that keeps a
    1000-executor backfill from DDoSing a rate-limited API. The
    repartition is one narrow-payload shuffle; upstream compute
    keeps its natural parallelism (a ``coalesce`` would drag the
    whole upstream plan down to n tasks).

    ``retries`` is the per-batch retry budget (linear 0.5 s backoff via
    the injectable ``sleeper``). HTTP 429 retries any batch — the server
    rejected it before processing. A transport exception or 5xx is
    AMBIGUOUS (the batch may have been applied before the response was
    lost), so those retry only batches composed entirely of keyed
    PATCH/DELETE ops, which are idempotent under re-send. POST
    creates are segregated into their OWN batches (r10 ADVICE): a
    POST batch fails immediately on an ambiguous error rather than
    risk silently duplicating created records (reference :540-585
    create-intent semantics), while the PATCH/DELETE batches it no
    longer shares keep their full retry budget. A batch that
    exhausts the budget counts its ops as failed and the stream
    continues (continue-on-error, like the reference's per-batch
    logging); ``BatchResult.retried`` reports total retry attempts.
    """
    assert 1 <= batch_size <= 1000, "Dataverse caps $batch at 1000 ops"
    if max_inflight_batches is not None:
        assert max_inflight_batches >= 1
        rows = rows.repartition(max_inflight_batches)
    spark = rows.sparkSession
    acc_ok = spark.sparkContext.accumulator(0)
    acc_bad = spark.sparkContext.accumulator(0)
    acc_batches = spark.sparkContext.accumulator(0)
    acc_retried = spark.sparkContext.accumulator(0)
    hdrs = {"Prefer": "odata.continue-on-error", **(headers or {})}
    has_op = OP_COL in rows.columns

    def key_filter(row) -> str:
        # OData string literals escape a quote by doubling it
        return ",".join(
            "{}='{}'".format(k, str(row[k]).replace("'", "''"))
            for k in alternate_key
        )

    def send(partition) -> None:
        import time as _time

        wait = sleeper if sleeper is not None else _time.sleep
        transport = transport_factory()
        # POST creates are SEGREGATED into their own batches: one POST
        # in a mixed batch would disable the whole batch's ambiguous-
        # failure retry budget (see flush), so keyed PATCH/DELETE ops
        # — idempotent under re-send — batch separately and keep their
        # 5xx retries. Cross-op ordering between a create and an
        # update was never guaranteed (continue-on-error batches are
        # unordered server-side), so the split loses nothing.
        ops: list[dict] = []      # keyed PATCH/DELETE (idempotent)
        creates: list[dict] = []  # POST creates (fail-fast)

        def attempt_once(payload: str):
            return transport("POST", batch_url, headers=hdrs,
                             json_body=None, data=payload)

        def flush(ops: list) -> None:
            if not ops:
                return
            payload = build_batch_payload(ops)
            # POST creates are NOT idempotent: a transport exception or
            # 5xx after the server applied the batch would duplicate
            # the created records on re-send. Only 429 (rejected before
            # processing) is safe to retry for a batch containing
            # POSTs; ambiguous failures retry only all-PATCH/DELETE
            # batches (keyed + If-Match, safe to re-apply).
            idempotent = all(o["method"] != "POST" for o in ops)
            resp = None
            for attempt in range(retries + 1):
                if attempt:
                    acc_retried.add(1)
                    wait(_BACKOFF_S * attempt)
                try:
                    resp = attempt_once(payload)
                except Exception:
                    resp = None
                    if attempt == retries or not idempotent:
                        break
                    continue
                if resp.status == 429 and attempt < retries:
                    continue
                if resp.status >= 500 and attempt < retries and idempotent:
                    continue
                break
            acc_batches.add(1)
            if resp is None or resp.status == 429 or resp.status >= 500:
                acc_bad.add(len(ops))  # budget exhausted: continue-on-error
                ops.clear()
                return
            ok, bad = parse_batch_response(resp.body)
            acc_ok.add(ok)
            acc_bad.add(bad + max(len(ops) - ok - bad, 0))
            ops.clear()

        for row in partition:
            d = row.asDict()
            guid = d.pop(GUID_COL, None) if has_op else None
            op = d.pop(OP_COL, None) if has_op else None
            if op == "skip":  # canceled + never synced: nothing to do
                continue
            if op == "delete" and guid:
                ops.append({"method": "DELETE",
                            "url": f"{entity_set}({guid})",
                            "headers": {"If-Match": "*"}})
            elif op == "update" and guid:
                ops.append({"method": "PATCH",
                            "url": f"{entity_set}({guid})",
                            "headers": {"If-Match": "*"}, "body": d})
            elif op == "create":
                creates.append(
                    {"method": "POST", "url": entity_set, "body": d}
                )
            else:  # alternate-key upsert
                ops.append({"method": "PATCH",
                            "url": f"{entity_set}({key_filter(row)})", "body": d})
            if len(ops) >= batch_size:
                flush(ops)
            if len(creates) >= batch_size:
                flush(creates)
        flush(ops)
        flush(creates)

    rows.foreachPartition(send)
    return BatchResult(
        batches=acc_batches.value, succeeded=acc_ok.value,
        failed=acc_bad.value, retried=acc_retried.value,
    )
