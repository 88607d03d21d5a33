"""Sinks: catalog table writes (append/overwrite/truncate/
insert-select), parquet MERGE upsert, small-file compaction, audit
logs, entity-store upsert (Dataverse-like $batch semantics) and
webhook notifications. Zone-to-zone consumption is the watermark in
``ulh_etl_spark.state``; no sink flips flag columns."""

from ulh_etl_spark.sinks.entity import (  # noqa: F401
    batch_upsert_http,
    classify_create_update,
    entity_mirror_merge,
)
from ulh_etl_spark.sinks.tables import (  # noqa: F401
    insert_select,
    merge_upsert,
    table_exists,
    truncate_table,
    write_table,
)
