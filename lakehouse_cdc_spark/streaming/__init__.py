"""Structured Streaming layer (SURVEY §2.9 T1–T8).

Replaces the reference's driver-embedded confluent-kafka poll loop
(``src/processor/spark_batch.py:304-406``) with ``readStream``:
partitions are consumed by executors in parallel, offsets live in the
checkpoint, and exactly-once comes from deterministic batch replay +
an idempotent batchId-guarded sink — not from the reference's
hand-rolled Iceberg offset ledger + (invalid) START TRANSACTION
(``spark_exactly_once.py:343-397,426``).
"""

from lakehouse_cdc_spark.streaming.sources import (
    file_cdc_source,
    kafka_cdc_source,
    kafka_source_options,
)
from lakehouse_cdc_spark.streaming.feed import FeedCursor
from lakehouse_cdc_spark.streaming.indexing import (
    rebuild_token_index,
    token_index_changes,
)
from lakehouse_cdc_spark.streaming.pipeline import (
    SnapshotUpsertSink,
    cdc_pipeline,
    staged_cdc_pipeline,
    with_retry,
)
from lakehouse_cdc_spark.streaming.windows import (
    session_window_agg,
    stream_interval_join,
    sliding_window_agg,
    tumbling_window_agg,
    watermark_dedup,
)

__all__ = [
    "FeedCursor",
    "rebuild_token_index",
    "token_index_changes",
    "file_cdc_source",
    "kafka_cdc_source",
    "kafka_source_options",
    "SnapshotUpsertSink",
    "cdc_pipeline",
    "staged_cdc_pipeline",
    "with_retry",
    "watermark_dedup",
    "tumbling_window_agg",
    "sliding_window_agg",
    "session_window_agg",
    "stream_interval_join",
]
