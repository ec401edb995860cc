"""The change feed as a Spark STREAMING SOURCE (round 7):
``readStream.format("snapshotfeed")`` + ``feed_stream`` must deliver
the same state a FeedCursor batch loop delivers — exactly-once,
preserved through checkpoint recovery (kill the query, commit more,
restart from the same checkpoint: no range lost, replays absorbed by
the idempotent downstream sink)."""

import time

import pyspark.sql.functions as F

from lakehouse_cdc_spark.streaming import SnapshotUpsertSink
from lakehouse_cdc_spark.streaming.feed import (
    FeedCursor,
    feed_stream,
    register_snapshotfeed,
)


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "id int, v string, operation string, seq int"
    )


def _drain(q, sink, downstream, spark, timeout=60):
    """Poll until the downstream sink has consumed every committed
    snapshot (processingTime trigger: availableNow drains only one
    prefetched micro-batch on a SimpleDataSourceStreamReader)."""
    want = sink.committed_snapshot()
    deadline = time.time() + timeout
    while time.time() < deadline:
        t = downstream.current_table(spark)
        if t is not None:
            acked = t.agg(F.max("seq")).collect()[0][0]
            if acked is not None and acked >= want:
                return
        time.sleep(0.5)
    raise AssertionError(f"stream did not reach snapshot {want}")


def _state(sink, spark):
    t = sink.current_table(spark)
    return sorted((r.id, r.v) for r in t.collect()) if t is not None else []


def test_feed_stream_equals_cursor_loop_through_recovery(spark, tmp_path):
    base = SnapshotUpsertSink(
        str(tmp_path / "base"), keys=["id"], order_by=["seq"], n_buckets=2
    )
    # two independent consumers of the SAME feed: a readStream-driven
    # mirror and a FeedCursor-driven mirror; they must always converge
    # to identical state
    mirror_stream = SnapshotUpsertSink(
        str(tmp_path / "ms"), keys=["id"], order_by=["seq"], n_buckets=2
    )
    mirror_cursor = SnapshotUpsertSink(
        str(tmp_path / "mc"), keys=["id"], order_by=["seq"], n_buckets=2
    )
    cursor = FeedCursor(base, str(tmp_path / "cursor.json"))
    ckpt = str(tmp_path / "ckpt")

    # a multi-snapshot range delivers one row per key PER SNAPSHOT —
    # the consumer orders by _change_snapshot, the feed's own axis
    def _mirror_batch(feed, to_snap):
        return feed.select(
            "id",
            "v",
            "operation",
            F.col("_change_snapshot").cast("int").alias("seq"),
        )

    def consume(feed, from_snap, to_snap):
        mirror_stream.process_batch(_mirror_batch(feed, to_snap), to_snap)

    def cursor_drain():
        while True:
            feed, to_snap, ack = cursor.next_batch(spark)
            if feed is None:
                return
            mirror_cursor.process_batch(_mirror_batch(feed, to_snap), to_snap)
            ack()

    # phase 1: two commits, stream up
    base.process_batch(_batch(spark, [(1, "a", "c", 0), (2, "b", "c", 0)]), 0)
    base.process_batch(_batch(spark, [(2, "b2", "u", 1), (3, "c", "c", 1)]), 1)
    q = (
        feed_stream(spark, base, consume, ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        _drain(q, base, mirror_stream, spark)
    finally:
        q.stop()
    cursor_drain()
    assert _state(mirror_stream, spark) == _state(mirror_cursor, spark)
    assert _state(mirror_stream, spark) == [(1, "a"), (2, "b2"), (3, "c")]

    # phase 2: RECOVERY — query stopped above (a crash), more commits
    # land while it is down, restart from the SAME checkpoint
    base.process_batch(_batch(spark, [(1, None, "d", 2), (4, "d", "c", 2)]), 2)
    q2 = (
        feed_stream(spark, base, consume, ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        _drain(q2, base, mirror_stream, spark)
    finally:
        q2.stop()
    cursor_drain()
    assert _state(mirror_stream, spark) == _state(mirror_cursor, spark)
    assert _state(mirror_stream, spark) == [(2, "b2"), (3, "c"), (4, "d")]


def test_feed_stream_skips_silent_ranges_and_chunks_backlog(
    spark, tmp_path
):
    """A range holding only feed-silent commits (compaction) delivers
    nothing but still advances the offset; a backlog wider than
    maxSnapshots arrives as multiple bounded ranges."""
    base = SnapshotUpsertSink(
        str(tmp_path / "base"), keys=["id"], order_by=["seq"], n_buckets=1
    )
    seen = []

    def consume(feed, from_snap, to_snap):
        seen.append((from_snap, to_snap, feed.count()))

    # 4 data commits + 1 compaction = 5 snapshots; cap 2 → ≥2 ranges
    for i in range(3):
        base.process_batch(
            _batch(spark, [(j, f"v{i}", "c" if i == 0 else "u", i)
                           for j in range(4)]),
            i,
        )
    base.compact_buckets(spark, min_files=0)
    base.process_batch(_batch(spark, [(9, "z", "c", 4)]), 4)

    q = (
        feed_stream(
            spark,
            base,
            consume,
            str(tmp_path / "ckpt"),
            max_snapshots=2,
        )
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = time.time() + 60
    want = base.committed_snapshot()
    try:
        while time.time() < deadline:
            if seen and seen[-1][1] == want:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert seen and seen[-1][1] == want
    # bounded chunks: no delivered range wider than the cap
    assert all(hi - lo <= 2 for lo, hi, _ in seen)
    # every delivered range carried data (silent ranges were skipped
    # inside foreachBatch, never surfaced to the consumer)
    assert all(n > 0 for _, _, n in seen)


def test_feed_stream_source_detects_rollback(spark, tmp_path):
    """A sink rolled back below the delivered offset must fail the
    stream loudly (silent skip = corrupted feed), matching FeedCursor."""
    base = SnapshotUpsertSink(
        str(tmp_path / "base"), keys=["id"], order_by=["seq"], n_buckets=1
    )
    for i in range(3):
        base.process_batch(_batch(spark, [(i, "x", "c", i)]), i)

    register_snapshotfeed(spark)
    got = []
    q = (
        spark.readStream.format("snapshotfeed")
        .option("path", base.target_dir)
        .option("maxSnapshots", 64)
        .load()
        .writeStream.foreachBatch(
            lambda df, bid: got.extend(df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = time.time() + 60
    try:
        while time.time() < deadline and not got:
            time.sleep(0.5)
        assert got and got[-1].to_snap == 2
        base.rollback_to(0)
        q.awaitTermination(60)
        raise AssertionError("stream survived a rollback below offset")
    except Exception as e:  # noqa: BLE001
        assert "rolled back below" in str(e)
    finally:
        try:
            q.stop()
        except Exception:  # noqa: BLE001
            pass
