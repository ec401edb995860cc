"""Checkpointed consumption of the change data feed.

``changes_between`` is a stateless range read; real consumers need a
CURSOR — "give me everything committed since I last acknowledged, and
survive my own crashes".  :class:`FeedCursor` is that contract, the
same shape as a Kafka consumer group offset or a Delta CDF streaming
checkpoint, built on the sink's own commit fence:

- the cursor file stores the last ACKNOWLEDGED snapshot (atomic
  write-then-rename, like every pointer in this engine);
- ``next_batch`` returns the feed for ``(acked, committed]`` plus an
  ``ack`` callback; calling ``ack()`` AFTER the consumer durably
  lands its output makes delivery exactly-once end-to-end — a crash
  before ack replays the same range (idempotent downstream upserts
  absorb it), a crash after ack never re-reads it;
- ranges respect ``MAX_COW_DIFFS`` chunking automatically: a consumer
  that fell far behind catches up in bounded-plan chunks instead of
  one degenerate plan.

The deliberate NON-design: tailing the sink's ``__delta`` dirs with a
file readStream would stream UNCOMMITTED files (a crashed batch's
data lands before the manifest swap publishes it) — phantom changes.
The cursor reads only through ``changes_between``, which resolves
every range against committed manifests.
"""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from lakehouse_cdc_spark.streaming import store


class FeedCursor:
    """Durable, exactly-once cursor over a sink's change feed.

    Pass ``name`` to REGISTER the cursor in the sink's refs document
    (``cursors``): a registered cursor is a retention
    PIN — ``maintenance.expire_snapshots`` keeps every snapshot ≥ its
    acked floor, so a lagging consumer can never be stranded by expiry
    deleting a manifest its next ``changes_between`` range needs (the
    Kafka-consumer-group / Iceberg-ref answer to the retention-vs-lag
    race).  The pin advances with every ack, so a caught-up cursor
    pins nothing but the head.  Unregistered (name=None) cursors are
    invisible to retention — expiry below them fails LOUDLY on the
    next read (the ``_chain`` retained-manifest check), never
    silently; that is the documented opt-out, not a gap."""

    def __init__(self, sink, cursor_path: str, name: str | None = None):
        self.sink = sink
        self.cursor_path = cursor_path
        self.name = name
        os.makedirs(os.path.dirname(cursor_path) or ".", exist_ok=True)
        if name is not None:
            self._pin(self.acked())

    def acked(self) -> int:
        """Last acknowledged snapshot (-1 = nothing consumed yet)."""
        try:
            with open(self.cursor_path) as f:
                return int(json.load(f)["acked"])
        except FileNotFoundError:
            return -1

    def _pin(self, snapshot: int) -> None:
        """Record the acked floor in the sink's refs doc (locked RMW).
        Only ever ADVANCES the shared pin: two handles on the same
        named cursor must not let a stale one rewind retention."""

        def _set(refs):
            cur = refs["cursors"].get(self.name)
            if cur is None or int(cur) < snapshot:
                refs["cursors"][self.name] = snapshot
            # last-touch timestamp (observability only): lets
            # maintenance.retention_report age an abandoned cursor so
            # a never-acking registration (acked=-1, pins everything)
            # is findable instead of silently disabling retention
            refs.setdefault("cursors_meta", {})[self.name] = time.time()

        self.sink._refs_update(_set)

    def unregister(self) -> None:
        """Drop the retention pin (consumer decommissioned)."""
        if self.name is None:
            return

        def _drop(refs):
            refs["cursors"].pop(self.name, None)
            refs.setdefault("cursors_meta", {}).pop(self.name, None)

        self.sink._refs_update(_drop)

    def reset(self, snapshot: int = -1) -> None:
        """Deliberately REWIND the cursor (full redelivery, or recovery
        after the sink was rolled back below it — the loud stop in
        ``next_batch`` points here).  Unlike ack, this force-writes the
        retention pin DOWNWARD too: the advance-only guard in ``_pin``
        exists to stop a stale concurrent handle from rewinding
        retention, but an explicit operator reset must not leave the
        old high floor pinned — a reset named cursor with a stale pin
        would be unprotected below it, the exact stranding registration
        exists to prevent.  Rewinding cannot resurrect history already
        expired: if manifests below the old floor are gone, the next
        ``next_batch`` fails loudly on the expired chain."""
        self._write_file_only(snapshot)
        if self.name is not None:

            def _force(refs):
                refs["cursors"][self.name] = snapshot
                refs.setdefault("cursors_meta", {})[self.name] = time.time()

            self.sink._refs_update(_force)

    def _write_file_only(self, snapshot: int) -> None:
        store.write_json(self.cursor_path, {"acked": snapshot})

    def _write(self, snapshot: int) -> None:
        self._write_file_only(snapshot)
        if self.name is not None:
            self._pin(snapshot)

    def next_batch(
        self, spark: SparkSession, max_snapshots: int | None = None
    ) -> tuple[DataFrame | None, int, object]:
        """The unconsumed feed and the means to acknowledge it.

        Returns ``(df, to_snap, ack)``: ``df`` is the feed for
        ``(acked, to_snap]`` (None when nothing is pending), and
        ``ack()`` durably advances the cursor to ``to_snap`` — call it
        only after the consumer's own output is durable.  ``to_snap``
        is capped at ``acked + max_snapshots`` (default: the sink's
        ``MAX_COW_DIFFS``) so a far-behind consumer catches up in
        bounded-plan chunks; loop until ``df`` is None to drain."""
        if max_snapshots is not None and max_snapshots <= 0:
            raise ValueError(
                f"max_snapshots must be positive, got {max_snapshots}"
            )
        cap = (
            max_snapshots
            if max_snapshots is not None
            else self.sink.MAX_COW_DIFFS
        )
        while True:
            start = self.acked()
            committed = self.sink.committed_snapshot()
            if committed is not None and committed < start:
                # the sink was ROLLED BACK below the cursor: feed
                # history has diverged from what was acknowledged, and
                # silently waiting for the snapshot counter to catch up
                # would skip every change recommitted under
                # already-acked numbers.  Exactly-once cannot be
                # auto-repaired here — the operator must decide whether
                # to reset the cursor (redeliver) or discard consumer
                # state.  Detection is only possible while committed <
                # acked, hence the loud stop.
                raise ValueError(
                    f"sink rolled back below the cursor (committed="
                    f"{committed} < acked={start}): feed history "
                    "diverged — call cursor.reset() explicitly (it "
                    "also rewinds a named cursor's retention pin)"
                )
            if committed is None or committed <= start:
                return None, start, lambda: None
            to_snap = min(committed, start + cap)
            df = self.sink.changes_between(spark, start, to_snap)
            if df is None:
                # the chunk holds only feed-silent commits (folds,
                # watermark-only, compaction): nothing to deliver, so
                # advancing the cursor NOW is trivially exactly-once —
                # and necessary: returning None here would be
                # indistinguishable from "caught up" and a consumer
                # following the drain-until-None protocol would stall
                # on this range forever while real changes pile up
                # beyond it.  Same move-backwards guard as ack(): a
                # zombie consumer that lost a race to its replacement
                # must not rewind the cursor and mass-redeliver.
                if to_snap > self.acked():
                    self._write(to_snap)
                continue

            def ack(to_snap=to_snap):
                cur = self.acked()
                if to_snap < cur:
                    raise ValueError(
                        f"cursor would move backwards: acked={cur}, "
                        f"ack({to_snap}) — stale batch acknowledged twice?"
                    )
                self._write(to_snap)

            return df, to_snap, ack


# ---------------------------------------------------------------------------
# The feed as a Spark STREAMING SOURCE
# ---------------------------------------------------------------------------
#
# ``FeedCursor`` is a manual loop; ``snapshotfeed`` lets the same
# contract be written as ``readStream`` + ``foreachBatch``.  The
# design is CONTROL-PLANE on purpose: the source's micro-batch rows
# are committed snapshot RANGES (from_snap, to_snap) — O(1) rows per
# batch — and the data-plane read happens inside foreachBatch via
# ``sink.changes_between``, a fully distributed plan.  Materializing
# feed ROWS through a SimpleDataSourceStreamReader would funnel every
# changed byte through the driver (and would have to re-implement the
# COW bucket diff outside Spark) — unbounded at 100 TB, so not an
# option.  Exactly-once composes the same way as FeedCursor: Spark's
# checkpoint tracks the last delivered snapshot offset, a replayed
# range re-reads the identical committed feed (manifests are
# immutable), and the consumer's idempotent downstream sink absorbs
# the replay.
#
# Offset JSON: {"snapshot": N} — last snapshot DELIVERED (same axis
# as FeedCursor's acked file).  Options:
#   path          sink target_dir (required)
#   startSnapshot first offset, default -1 (deliver from the beginning)
#   maxSnapshots  chunk cap per micro-batch, default 64
#                 (= SnapshotUpsertSink.MAX_COW_DIFFS: a far-behind
#                 consumer catches up in bounded-plan chunks)

FEED_RANGE_SCHEMA = "from_snap bigint, to_snap bigint"


class FeedRangeStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("snapshotfeed: option 'path' is required")
        self.start = int(options.get("startSnapshot", -1))
        self.cap = int(options.get("maxSnapshots", 64))
        if self.cap <= 0:
            raise ValueError("snapshotfeed: maxSnapshots > 0 required")

    def _committed(self) -> int | None:
        return store.read_pointer(self.path)[2]

    def initialOffset(self) -> dict:
        return {"snapshot": self.start}

    def read(self, start: dict):
        lo = int(start["snapshot"])
        committed = self._committed()
        if committed is not None and committed < lo:
            # same loud stop as FeedCursor: a rollback below the
            # delivered offset means feed history diverged — silently
            # waiting would skip changes recommitted under
            # already-delivered snapshot numbers
            raise ValueError(
                f"sink rolled back below the stream offset (committed="
                f"{committed} < delivered={lo}): feed history diverged "
                "— restart the stream from a fresh checkpoint"
            )
        if committed is None or committed <= lo:
            return iter([]), {"snapshot": lo}
        hi = min(committed, lo + self.cap)
        return iter([(lo, hi)]), {"snapshot": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        # committed manifests are immutable ⇒ exact replay on recovery
        lo, hi = int(start["snapshot"]), int(end["snapshot"])
        return iter([(lo, hi)]) if hi > lo else iter([])


class FeedRangeDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "snapshotfeed"

    def schema(self) -> str:
        return FEED_RANGE_SCHEMA

    def simpleStreamReader(self, schema) -> FeedRangeStreamReader:
        return FeedRangeStreamReader(self.options)


_REGISTER_LOCK = threading.Lock()


def register_snapshotfeed(spark: SparkSession) -> None:
    # one lock, as in sources.cdclog.register_cdclog: Spark refuses a
    # registration that races another thread's (DATA_SOURCE_ALREADY_EXISTS)
    with _REGISTER_LOCK:
        spark.dataSource.register(FeedRangeDataSource)


def feed_stream(
    spark: SparkSession,
    sink,
    consume,
    checkpoint_dir: str,
    start_snapshot: int = -1,
    max_snapshots: int | None = None,
):
    """The readStream+foreachBatch form of a feed consumer.

    ``consume(feed_df, from_snap, to_snap)`` is called once per
    pending committed range with the DISTRIBUTED feed DataFrame (never
    for feed-silent ranges — folds, compaction, rebucket — which are
    skipped exactly like FeedCursor's auto-advance).  Returns the
    un-started ``DataStreamWriter``; callers pick the trigger and
    start it.  Exactly-once: the checkpoint replays an unacknowledged
    range against immutable manifests, and an idempotent consumer sink
    (batch-guarded or last-write-wins keyed upsert) absorbs it."""
    register_snapshotfeed(spark)

    def _fb(batch_df: DataFrame, batch_id: int) -> None:
        # O(ranges) rows — a control-plane collect, not a data read
        for r in batch_df.collect():
            feed = sink.changes_between(spark, r.from_snap, r.to_snap)
            if feed is not None:
                consume(feed, r.from_snap, r.to_snap)

    reader = (
        spark.readStream.format("snapshotfeed")
        .option("path", sink.target_dir)
        .option("startSnapshot", start_snapshot)
        .option(
            "maxSnapshots",
            max_snapshots
            if max_snapshots is not None
            else sink.MAX_COW_DIFFS,
        )
    )
    return (
        reader.load()
        .writeStream.foreachBatch(_fb)
        .option("checkpointLocation", checkpoint_dir)
    )
