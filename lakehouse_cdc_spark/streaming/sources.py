"""Streaming sources (SURVEY S1/S2/T1).

``kafka_cdc_source`` is the production path (requires the Kafka
connector jar + a broker — neither exists in the test container, so it
is config-only here, mirroring the reference's connection surface).
``file_cdc_source`` is the test-harness equivalent: a parquet-file
stream with ``maxFilesPerTrigger`` standing in for the reference's
100-records-per-micro-batch flush (spark_batch.py:324).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def kafka_source_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str | dict = "earliest",
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = False,
) -> dict[str, str]:
    """The exact option dict a Kafka CDC stream reader gets — pure and
    unit-testable without a broker (the only untested surface left is
    the broker handshake itself).

    ``starting_offsets`` accepts the two Spark contracts: the
    ``earliest``/``latest`` keywords, or a per-partition dict
    ``{topic: {partition: offset}}`` which is serialized to the JSON
    form Spark requires (partition keys become strings, -2/-1 mean
    earliest/latest).
    """
    if isinstance(starting_offsets, dict):
        starting = json.dumps(
            {
                t: {str(p): int(o) for p, o in parts.items()}
                for t, parts in starting_offsets.items()
            },
            sort_keys=True,
        )
    elif starting_offsets in ("earliest", "latest"):
        starting = starting_offsets
    else:
        # pre-serialized JSON offsets (Spark's own accepted form) pass
        # through after validation — anything else is a typo'd keyword
        try:
            parsed = json.loads(starting_offsets)
            if not isinstance(parsed, dict):
                raise ValueError
        except (TypeError, ValueError):
            raise ValueError(
                f"starting_offsets must be earliest/latest, a per-partition "
                f"dict, or a JSON offsets string, got {starting_offsets!r}"
            ) from None
        starting = starting_offsets
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting,
        # read_committed mirrors spark_exactly_once.py:29 — uncommitted
        # transactional producer records are invisible
        "kafka.isolation.level": "read_committed",
        "failOnDataLoss": "true" if fail_on_data_loss else "false",
    }
    if max_offsets_per_trigger is not None:
        if max_offsets_per_trigger <= 0:
            raise ValueError(
                f"max_offsets_per_trigger must be positive, got {max_offsets_per_trigger}"
            )
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_cdc_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str | dict = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka change-stream source.

    Replaces the driver-side ``Consumer(kafka_config).subscribe``
    poll loop (spark_batch.py:25-29,310-311).  Offset tracking,
    at-least-once delivery and restart recovery come from the
    checkpoint — the reference's manual ``assign(offset+1)`` seek
    (spark_exactly_once.py:579-588) is obsolete.  ``read_committed``
    isolation mirrors spark_exactly_once.py:29.
    """
    opts = kafka_source_options(
        bootstrap_servers,
        topic,
        starting_offsets=starting_offsets,
        max_offsets_per_trigger=max_offsets_per_trigger,
    )
    return spark.readStream.format("kafka").options(**opts).load()


def file_cdc_source(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Parquet-directory stream for tests: each file becomes (part of)
    a micro-batch — deterministic replay of a change log without a
    broker."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(path)
    )
