"""Checkpointed feed consumption (round 6): FeedCursor delivers every
committed change exactly once across consumer crashes — replay before
ack, never after — and drains a far-behind backlog in bounded chunks."""

import os

import pyspark.sql.functions as F

from lakehouse_cdc_spark.streaming import SnapshotUpsertSink
from lakehouse_cdc_spark.streaming.feed import FeedCursor

#: the checkout under test, for the child process's sys.path
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "id int, v string, operation string, seq int"
    )


def test_cursor_delivers_exactly_once_across_crashes(spark, tmp_path):
    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=2
    )
    cur = FeedCursor(sink, str(tmp_path / "cursor.json"))

    # nothing committed yet
    df, _, _ = cur.next_batch(spark)
    assert df is None

    sink.process_batch(_batch(spark, [(1, "a", "c", 0), (2, "b", "c", 0)]), 0)
    df, snap, ack = cur.next_batch(spark)
    got = sorted((r.id, r.v) for r in df.collect())
    assert got == [(1, "a"), (2, "b")] and snap == 0

    # CRASH before ack: the same batch replays identically
    df2, snap2, ack2 = cur.next_batch(spark)
    assert snap2 == 0
    assert sorted((r.id, r.v) for r in df2.collect()) == got
    ack2()

    # after ack: nothing pending until a new commit
    df3, _, _ = cur.next_batch(spark)
    assert df3 is None
    sink.process_batch(_batch(spark, [(1, "a2", "u", 1)]), 1)
    df4, snap4, ack4 = cur.next_batch(spark)
    assert [(r.id, r.v) for r in df4.collect()] == [(1, "a2")] and snap4 == 1
    ack4()

    # a stale ack (older batch acknowledged after a newer one) refuses
    import pytest

    sink.process_batch(_batch(spark, [(3, "c", "c", 2)]), 2)
    dfa, _, acka = cur.next_batch(spark)
    dfa.collect()
    acka()
    with pytest.raises(ValueError, match="backwards"):
        ack4()  # cursor already at 2


def test_cursor_drains_backlog_in_bounded_chunks(spark, tmp_path):
    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=1
    )
    for i in range(7):
        sink.process_batch(_batch(spark, [(i, f"v{i}", "c", i)]), i)
    cur = FeedCursor(sink, str(tmp_path / "cursor.json"))

    seen, rounds = [], 0
    while True:
        df, snap, ack = cur.next_batch(spark, max_snapshots=3)
        if df is None:
            break
        seen += [(r.id, r._change_snapshot) for r in df.collect()]
        ack()
        rounds += 1
    assert rounds == 3  # 7 snapshots in chunks of 3: 3 + 3 + 1
    assert sorted(seen) == [(i, i) for i in range(7)]


def test_cursor_skips_feed_silent_commits_without_stalling(spark, tmp_path):
    """A chunk containing only feed-silent commits (MOR folds,
    rebuckets) returns no DataFrame but must AUTO-ADVANCE the cursor —
    the round-6 review caught the drain-until-None protocol stalling
    forever on such a range while real changes piled up beyond it."""
    import pytest

    sink = SnapshotUpsertSink(
        str(tmp_path / "t"),
        keys=["id"],
        order_by=["seq"],
        n_buckets=2,
        merge_on_read=True,
        fold_deltas_every=None,
    )
    sink.process_batch(_batch(spark, [(1, "a", "c", 0)]), 0)   # snap 0
    sink.fold_deltas(spark)                                     # snap 1 (silent)
    sink.rebucket(spark, 4)                                     # snap 2 (silent)
    sink.process_batch(_batch(spark, [(2, "b", "c", 3)]), 1)   # snap 3

    cur = FeedCursor(sink, str(tmp_path / "cursor.json"))
    # chunk size 1: first call must deliver snap 0's row
    df, snap, ack = cur.next_batch(spark, max_snapshots=1)
    assert snap == 0 and [(r.id, r.v) for r in df.collect()] == [(1, "a")]
    ack()
    # next call: snap 1 (fold) is feed-SILENT — changes_between
    # returns no DataFrame at all, and the cursor must auto-advance
    # past it rather than stall on None.  Snap 2 (rebucket) is an
    # EMPTY-but-present feed (its COW legs filter to zero rows): the
    # consumer receives it normally, collects nothing, and acks.
    df, snap, ack = cur.next_batch(spark, max_snapshots=1)
    assert snap == 2 and df.count() == 0
    ack()
    df, snap, ack = cur.next_batch(spark, max_snapshots=1)
    assert snap == 3 and [(r.id, r.v) for r in df.collect()] == [(2, "b")]
    ack()
    df, _, _ = cur.next_batch(spark)
    assert df is None  # genuinely caught up
    # invalid chunk size refuses instead of silently defaulting
    with pytest.raises(ValueError, match="positive"):
        cur.next_batch(spark, max_snapshots=0)


def test_zombie_consumer_cannot_rewind_cursor(spark, tmp_path, monkeypatch):
    """The feed-silent auto-advance must honor the same move-backwards
    guard as ack(): a zombie consumer whose replacement already acked
    ahead must not rewind the cursor and mass-redeliver (round-6
    review finding)."""
    sink = SnapshotUpsertSink(
        str(tmp_path / "t"),
        keys=["id"],
        order_by=["seq"],
        n_buckets=1,
        merge_on_read=True,
        fold_deltas_every=None,
    )
    sink.process_batch(_batch(spark, [(1, "a", "c", 0)]), 0)  # snap 0
    sink.fold_deltas(spark)                                    # snap 1 silent
    sink.process_batch(_batch(spark, [(2, "b", "c", 2)]), 1)  # snap 2

    cur = FeedCursor(sink, str(tmp_path / "cursor.json"))
    df, snap, ack = cur.next_batch(spark, max_snapshots=1)
    df.collect()
    ack()  # acked = 0

    # the zombie enters next_batch with start=0; mid-flight its
    # replacement drains everything and acks to 2
    orig = sink.changes_between

    def racing(spark_, a, b):
        if (a, b) == (0, 1):
            cur._write(2)  # replacement consumer finished
        return orig(spark_, a, b)

    monkeypatch.setattr(sink, "changes_between", racing)
    df, _, _ = cur.next_batch(spark, max_snapshots=1)
    assert df is None  # caught up per the REPLACEMENT's progress
    assert cur.acked() == 2  # the silent (0,1] advance did NOT rewind


def test_cursor_detects_sink_rollback(spark, tmp_path):
    """A sink rolled back below the cursor diverges the feed history:
    the cursor must stop loudly instead of silently skipping changes
    recommitted under already-acked snapshot numbers."""
    import pytest

    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=1
    )
    for i in range(3):
        sink.process_batch(_batch(spark, [(i, f"v{i}", "c", i)]), i)
    cur = FeedCursor(sink, str(tmp_path / "cursor.json"))
    df, _, ack = cur.next_batch(spark)
    df.collect()
    ack()  # acked = 2
    sink.rollback_to(0)
    with pytest.raises(ValueError, match="rolled back"):
        cur.next_batch(spark)


def test_registered_cursor_pins_snapshots_against_expiry(spark, tmp_path):
    """A NAMED cursor is a retention pin: expiry keeps every snapshot
    at or above its acked floor, so a lagging consumer drains to head
    with zero loss after an aggressive expire_snapshots — while an
    unregistered cursor in the same position is stranded (loudly)."""
    import pytest

    from lakehouse_cdc_spark.maintenance import expire_snapshots

    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=2
    )
    cur = FeedCursor(sink, str(tmp_path / "cursor.json"), name="analytics")
    sink.process_batch(_batch(spark, [(1, "a", "c", 0), (2, "b", "c", 0)]), 0)
    df, _, ack = cur.next_batch(spark)
    assert df is not None
    df.collect()
    ack()  # cursor acked snapshot 0, then falls behind
    assert sink.refs()["cursors"]["analytics"] == 0
    for i in range(1, 4):
        sink.process_batch(_batch(spark, [(i + 10, f"v{i}", "c", i)]), i)

    # aggressive retention: without the pin this would delete the
    # manifests the cursor's (0, 5] ranges need
    expired = expire_snapshots(sink.target_dir, retain_last=1)
    assert expired == []  # everything >= the acked floor survives

    seen = []
    while True:
        df, _, ack = cur.next_batch(spark, max_snapshots=2)
        if df is None:
            break
        seen += [(r.id, r._change_snapshot) for r in df.collect()]
        ack()
    assert sorted(seen) == [(i + 10, i) for i in range(1, 4)]  # zero loss
    assert sink.refs()["cursors"]["analytics"] == 3  # pin advanced

    # caught up: the pin no longer blocks retention of old history
    sink.process_batch(_batch(spark, [(99, "z", "c", 4)]), 4)
    df, _, ack = cur.next_batch(spark)
    df.collect()
    ack()
    expired = expire_snapshots(sink.target_dir, retain_last=1)
    assert expired != []

    # decommission drops the pin entirely
    cur.unregister()
    assert "analytics" not in sink.refs()["cursors"]


def test_unregistered_cursor_is_stranded_loudly_by_expiry(spark, tmp_path):
    """The opt-out documented on FeedCursor: an UNREGISTERED lagging
    cursor fails loudly (never silently skips) when expiry removed a
    manifest its next range needs."""
    import pytest

    from lakehouse_cdc_spark.maintenance import expire_snapshots

    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=1
    )
    cur = FeedCursor(sink, str(tmp_path / "cursor.json"))
    sink.process_batch(_batch(spark, [(1, "a", "c", 0)]), 0)
    df, _, ack = cur.next_batch(spark)
    df.collect()
    ack()
    for i in range(1, 4):
        sink.process_batch(_batch(spark, [(i, f"v{i}", "u", i)]), i)
    expired = expire_snapshots(sink.target_dir, retain_last=1)
    assert expired  # nothing pinned: history below head-1 is gone
    with pytest.raises(ValueError):
        cur.next_batch(spark)


def test_two_named_cursors_min_floor_wins(spark, tmp_path):
    """Retention honors the LAGGIEST registered cursor: the min acked
    floor across all cursors pins, and unpinning one cursor does not
    release history the other still needs."""
    from lakehouse_cdc_spark.maintenance import expire_snapshots, expiry_safety

    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=1
    )
    fast = FeedCursor(sink, str(tmp_path / "fast.json"), name="fast")
    slow = FeedCursor(sink, str(tmp_path / "slow.json"), name="slow")
    for i in range(4):
        sink.process_batch(_batch(spark, [(i, f"v{i}", "c", i)]), i)
    # fast drains fully; slow consumes nothing (floor -1 pins all)
    while True:
        df, _, ack = fast.next_batch(spark)
        if df is None:
            break
        df.collect()
        ack()
    assert expire_snapshots(sink.target_dir, retain_last=1) == []
    # slow advances to 2: snapshots 0-1 become expirable, 2+ pinned
    while slow.acked() < 2:
        df, _, ack = slow.next_batch(spark, max_snapshots=1)
        df.collect()
        ack()
    rows = {r["snapshot"]: r for r in expiry_safety(sink.target_dir, 1)}
    assert rows[2]["would_expire"] is False  # slow's range base
    assert rows[3]["would_expire"] is False
    expired = expire_snapshots(sink.target_dir, retain_last=1)
    assert all(v < 2 for v in expired)
    # slow still drains to head with zero loss
    seen = []
    while True:
        df, _, ack = slow.next_batch(spark)
        if df is None:
            break
        seen += [r.id for r in df.collect()]
        ack()
    assert sorted(seen) == [3]


def test_cursor_reset_rewinds_the_retention_pin(spark, tmp_path):
    """reset() is the operator's deliberate rewind: unlike ack's
    advance-only pin, it force-writes the refs pin DOWNWARD so a reset
    named cursor is protected below its old floor again."""
    from lakehouse_cdc_spark.maintenance import expire_snapshots

    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=1
    )
    cur = FeedCursor(sink, str(tmp_path / "c.json"), name="analytics")
    for i in range(3):
        sink.process_batch(_batch(spark, [(i, f"v{i}", "c", i)]), i)
    while True:
        df, _, ack = cur.next_batch(spark)
        if df is None:
            break
        df.collect()
        ack()
    assert sink.refs()["cursors"]["analytics"] == 2
    cur.reset()  # full redelivery requested
    assert cur.acked() == -1
    assert sink.refs()["cursors"]["analytics"] == -1
    # the rewound pin blocks retention again
    assert expire_snapshots(sink.target_dir, retain_last=1) == []
    seen = []
    while True:
        df, _, ack = cur.next_batch(spark)
        if df is None:
            break
        seen += [r.id for r in df.collect()]
        ack()
    assert sorted(seen) == [0, 1, 2]  # full redelivery, zero loss


def test_multiprocess_expiry_races_cursor_registration_and_acks(
    spark, tmp_path
):
    """TRUE cross-process retention race: a separate OS process hammers
    expire_snapshots in a loop while this process registers a named
    cursor, commits batches, and drains with acks.  The refs flock
    (expiry computes its keep set under the same lock every
    registration/ack takes) must guarantee no expiry ever deletes at
    or above the cursor's acked floor — the drain sees every change
    exactly once regardless of interleaving.  The child is pure
    Python (expiry is filesystem-only), so the race is cheap to run
    hot."""
    import subprocess
    import sys

    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=1
    )
    sink.process_batch(_batch(spark, [(0, "v0", "c", 0)]), 0)
    child = subprocess.Popen(
        [
            sys.executable,
            "-c",
            f"""
import sys, time
sys.path.insert(0, {REPO!r})
from lakehouse_cdc_spark.maintenance import expire_snapshots
for _ in range(200):
    expired = expire_snapshots({str(tmp_path / 't')!r}, retain_last=1)
    time.sleep(0.01)
print("EXPIRY_DONE")
""",
        ],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )
    try:
        cur = FeedCursor(sink, str(tmp_path / "c.json"), name="analytics")
        seen = []
        for i in range(1, 5):
            sink.process_batch(_batch(spark, [(i, f"v{i}", "c", i)]), i)
            if i % 2 == 0:  # drain every other commit, cursor lags between
                while True:
                    df, _, ack = cur.next_batch(spark)
                    if df is None:
                        break
                    seen += [(r.id, r._change_snapshot) for r in df.collect()]
                    ack()
    finally:
        out, err = child.communicate(timeout=120)
    assert child.returncode == 0, err[-500:]
    assert "EXPIRY_DONE" in out
    # final drain: exactly-once, zero loss across every interleaving
    while True:
        df, _, ack = cur.next_batch(spark)
        if df is None:
            break
        seen += [(r.id, r._change_snapshot) for r in df.collect()]
        ack()
    assert sorted(seen) == [(i, i) for i in range(5)]
