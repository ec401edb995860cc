"""Last-write-wins compaction — THE core CDC operator.

Re-expresses the reference's window dedup
(``src/processor/spark_batch.py:253-260`` and
``src/processor/spark_exactly_once.py:480-485``): keep only the newest
record per primary key before applying a change batch, which is also
required for MERGE cardinality correctness.

The reference orders only by ``processing_time``; ties are
nondeterministic there.  We make ordering total by accepting explicit
tie-breaker columns (event ordering per key: timestamp desc, then
offset/sequence desc), which matters once the stream is consumed by
many executors in parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(
    df: DataFrame,
    keys: list[str],
    order_by: list[str | Column],
) -> DataFrame:
    """Keep exactly one row per ``keys``: the first under ``order_by``.

    ``order_by`` entries given as strings are treated as DESCENDING
    (newest-first), matching the reference's
    ``orderBy(desc("processing_time"))``; pass Column objects for
    custom direction.

    Scale notes: this is one hash-partition shuffle on ``keys`` +
    ``WindowExec``; no driver-side loops.  At 100 TB the shuffle is
    unavoidable (it co-locates each key), but AQE coalesces/splits
    post-shuffle partitions, and because row_number needs no full sort
    of the partition beyond the window ordering, it spills gracefully.
    """
    ordering = [F.desc(c) if isinstance(c, str) else c for c in order_by]
    w = Window.partitionBy(*keys).orderBy(*ordering)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_per_key_bucketed(
    df: DataFrame,
    keys: list[str],
    order_by: list[str | Column],
    bucket_col: str,
    n_partitions: int,
) -> DataFrame:
    """:func:`latest_per_key` with its one shuffle ALIGNED to a
    key-derived bucket column (``bucket_col`` must be a pure function
    of ``keys``, e.g. ``pmod(hash(keys), n)``): explicitly repartition
    into ``n_partitions`` partitions by bucket, then window over
    ``(bucket, *keys)`` — HashPartitioning(bucket) satisfies the
    window's ClusteredDistribution because bucket is one of its
    partition keys, so NO second exchange appears.  Every bucket lands
    whole in one task, and the window's sort on ``(bucket, *keys)``
    hands it over contiguously, so a ``partitionBy(bucket)`` write
    downstream writes one file per bucket per snapshot however many
    buckets share a task — the file-count hygiene that keeps manifest
    listings and compaction debt flat at 100 TB.  Size
    ``n_partitions`` to the buckets the data touches (capped at the
    slot count), not to the bucket count: an empty partition still
    costs a scheduled task."""
    ordering = [F.desc(c) if isinstance(c, str) else c for c in order_by]
    w = Window.partitionBy(bucket_col, *keys).orderBy(*ordering)
    return (
        df.repartition(n_partitions, bucket_col)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
