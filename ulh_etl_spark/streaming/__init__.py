"""Streaming layer.

The reference has NO streaming operators (SURVEY §2.9) — its
"streaming-ness" is event-driven batch: one pipeline run per
blob-created event plus monotonic consumption flags. Structured
Streaming's file source with ``Trigger.AvailableNow`` reproduces that
model exactly (new files become exactly-once micro-batches; the
checkpoint replaces the IS_NEW flags), so the engine offers it as the
idiomatic upgrade path, plus watermarked event-time analytics the
reference never had. File streams parse CSV with the batch scan's
option set and always drain with ``Trigger.AvailableNow``.
"""

from ulh_etl_spark.streaming.file_stream import (  # noqa: F401
    stream_ingest_available_now,
)
from ulh_etl_spark.streaming.stateful import (  # noqa: F401
    running_totals_stream,
    seen_keys_dedup_stream,
)
from ulh_etl_spark.streaming.windows import (  # noqa: F401
    sessionize,
    windowed_counts,
)
