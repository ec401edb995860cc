"""Change data feed on the snapshot sink (round 5) — Delta CDF /
Iceberg changelog parity: ``changes_between(spark, a, b)`` replays
every change committed in ``(a, b]`` with the op column as the change
type, reading O(changed data), never O(table)."""

import pyspark.sql.functions as F

from lakehouse_cdc_spark.streaming import SnapshotUpsertSink


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "id int, v string, operation string, seq int"
    )


def _feed(sink, spark, a, b):
    df = sink.changes_between(spark, a, b)
    return sorted(
        ((r.id, r.v, r.operation, r.seq, r._change_snapshot)
         for r in df.collect()),
        key=lambda t: (t[0] is None, t[0] or 0, t[4]),
    )


def test_cow_feed_emits_exactly_the_committed_changes(spark, tmp_path):
    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=4
    )
    sink.process_batch(_batch(spark, [(i, f"v{i}", "c", 0) for i in range(8)]), 0)
    sink.process_batch(_batch(spark, [(3, "v3b", "u", 1), (9, "v9", "c", 1)]), 1)
    sink.process_batch(_batch(spark, [(3, None, "d", 2)]), 2)

    # snapshot 0: everything is an insert
    assert _feed(sink, spark, -1, 0) == [
        (i, f"v{i}", "c", 0, 0) for i in range(8)
    ]
    # snapshot 1: only the two changed rows — NOT the co-located
    # untouched rows of the rewritten buckets
    assert _feed(sink, spark, 0, 1) == [(3, "v3b", "u", 1, 1), (9, "v9", "c", 1, 1)]
    # snapshot 2: the delete marker
    assert _feed(sink, spark, 1, 2) == [(3, None, "d", 2, 2)]
    # a range unions with the snapshot stamped per row
    assert _feed(sink, spark, 0, 2) == [
        (3, "v3b", "u", 1, 1),
        (3, None, "d", 2, 2),
        (9, "v9", "c", 1, 1),
    ]


def test_mor_feed_reads_deltas_and_skips_the_fold(spark, tmp_path):
    sink = SnapshotUpsertSink(
        str(tmp_path / "t"),
        keys=["id"],
        order_by=["seq"],
        n_buckets=4,
        merge_on_read=True,
        fold_deltas_every=None,
    )
    sink.process_batch(_batch(spark, [(1, "a", "c", 0), (2, "b", "c", 0)]), 0)
    sink.process_batch(_batch(spark, [(1, "a2", "u", 1)]), 1)
    sink.fold_deltas(spark)  # snapshot 2: fold — must emit NOTHING new
    snap = sink.committed_snapshot()
    assert snap == 2
    assert _feed(sink, spark, -1, snap) == [
        (1, "a", "c", 0, 0),
        (1, "a2", "u", 1, 1),
        (2, "b", "c", 0, 0),
    ]
    # the fold snapshot alone is empty (rows already emitted as deltas)
    df = sink.changes_between(spark, 1, 2)
    assert df is None or df.count() == 0


def test_compaction_and_gc_emit_no_phantom_changes(spark, tmp_path):
    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=4
    )
    sink.process_batch(_batch(spark, [(i, f"v{i}", "c", 0) for i in range(8)]), 0)
    rows = [(i, f"w{i}", "u", 1) for i in range(8)]
    rows += [(100, None, "d", 1)]
    sink.process_batch(_batch(spark, rows), 1)
    base = sink.committed_snapshot()
    sink.compact_buckets(spark)  # may no-op: COW buckets are 1 file
    sink.gc_tombstones(spark, watermark=5)
    last = sink.committed_snapshot()
    assert last > base  # the GC rewrite committed a new snapshot
    df = sink.changes_between(spark, base, last)
    assert df is None or df.count() == 0, df.collect()
    # and the expired tombstone really left the state
    assert sink.current_state(spark).filter("id = 100").count() == 0


def test_feed_survives_schema_evolution(spark, tmp_path):
    """A batch that ADDS a column mid-stream must flow through the
    feed: earlier changes read NULL for the new column (union schema,
    Iceberg-style), later changes carry it."""
    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=2
    )
    sink.process_batch(_batch(spark, [(1, "a", "c", 0)]), 0)
    wide = spark.createDataFrame(
        [(2, "b", "c", 1, "EU")],
        "id int, v string, operation string, seq int, region string",
    )
    sink.process_batch(wide, 1)
    df = sink.changes_between(spark, -1, sink.committed_snapshot())
    rows = {r.id: (r.v, r.region, r._change_snapshot) for r in df.collect()}
    assert rows == {1: ("a", None, 0), 2: ("b", "EU", 1)}


def test_feed_replays_a_streamed_ingest(spark, tmp_path):
    """The feed over a LIVE streamed ingest (file source → cdc_pipeline
    → COW sink) must replay exactly the per-batch effective changes —
    the contract an incremental downstream consumer relies on."""
    import os

    from lakehouse_cdc_spark.streaming import cdc_pipeline

    src = str(tmp_path / "src")
    os.makedirs(src)
    batches = [
        [(1, "a", "c", 0), (2, "b", "c", 0)],
        [(1, "a2", "u", 1), (3, "c3", "c", 1)],
        [(2, None, "d", 2)],
    ]
    for i, rows in enumerate(batches):
        _batch(spark, rows).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"stage{i}")
        )
        for f in os.listdir(str(tmp_path / f"stage{i}")):
            if f.endswith(".parquet"):
                os.link(
                    str(tmp_path / f"stage{i}" / f),
                    os.path.join(src, f"{i:03d}.parquet"),
                )
    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=2
    )
    stream = (
        spark.readStream.schema("id int, v string, operation string, seq int")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = cdc_pipeline(stream, sink, str(tmp_path / "ckpt"))
    assert q.awaitTermination(300)
    last = sink.committed_snapshot()
    feed = _feed(sink, spark, -1, last)
    want = sorted(
        ((id_, v, op, seq, snap)
         for snap, rows in enumerate(batches)
         for id_, v, op, seq in rows),
        key=lambda t: (t[0] is None, t[0] or 0, t[4]),
    )
    assert feed == want


def test_feed_range_requires_retained_manifests(spark, tmp_path):
    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=2
    )
    sink.process_batch(_batch(spark, [(1, "a", "c", 0)]), 0)
    try:
        sink.changes_between(spark, 0, 5)
        raise AssertionError("must refuse a range with missing manifests")
    except ValueError:
        pass


def test_feed_refuses_expired_range_base(spark, tmp_path):
    """An EXPIRED base manifest must raise, not silently degrade the
    first diff into 'everything is new' (which would re-emit every
    co-located row of the rewritten buckets as phantom changes)."""
    import os

    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=2
    )
    sink.process_batch(_batch(spark, [(1, "a", "c", 0), (2, "b", "c", 0)]), 0)
    sink.process_batch(_batch(spark, [(1, "a2", "u", 1)]), 1)
    os.unlink(sink._manifest_path(0))  # simulate expire_snapshots
    try:
        sink.changes_between(spark, 0, 1)
        raise AssertionError("must refuse an expired range base")
    except ValueError as e:
        assert "range base" in str(e)


def test_null_keyed_rows_do_not_phantom_on_rewrite(spark, tmp_path):
    """The sink groups NULL keys as one valid key (bucket hash and
    window partition both do); the COW diff must too — a NULL-keyed
    row whose bucket is rewritten by an unrelated change must NOT be
    re-emitted."""
    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=1
    )
    sink.process_batch(
        _batch(spark, [(None, "ghost", "c", 0), (1, "a", "c", 0)]), 0
    )
    sink.process_batch(_batch(spark, [(2, "b", "c", 1)]), 1)  # same bucket
    changes = _feed(sink, spark, 0, 1)
    assert changes == [(2, "b", "c", 1, 1)]  # ghost not re-emitted


def test_long_mor_replay_builds_a_bounded_plan(spark, tmp_path):
    """A 50+-delta-commit replay must NOT build one union leg (and one
    manifest-schema'd scan) per commit: consecutive MOR delta commits
    sharing a schema collapse into ONE multi-path parquet scan whose
    `_change_snapshot` comes from the file path — so the plan has one
    leg per delta RUN.  Manifest reads stay one per snapshot (each
    carried, never re-read)."""
    sink = SnapshotUpsertSink(
        str(tmp_path / "t"),
        keys=["id"],
        order_by=["seq"],
        n_buckets=2,
        merge_on_read=True,
        fold_deltas_every=None,
    )
    n = 52
    for i in range(n):
        sink.process_batch(_batch(spark, [(i, f"v{i}", "c", i)]), i)

    reads = 0
    orig = sink._read_manifest

    def counting(snapshot):
        nonlocal reads
        reads += 1
        return orig(snapshot)

    sink._read_manifest = counting
    df = sink.changes_between(spark, -1, n - 1)
    assert reads <= n + 1  # one per snapshot in range (+base), never more

    # plan shape: a single parquet scan, zero Union nodes
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan
    # and the feed is still exact, snapshot stamps included
    got = _feed(sink, spark, -1, n - 1)
    assert got == [(i, f"v{i}", "c", i, i) for i in range(n)]


def test_cow_diff_budget_refuses_degenerate_plans(spark, tmp_path):
    """More COW diff joins than MAX_COW_DIFFS in one range must raise
    with chunking guidance (the feed is additive over ranges), never
    silently build a thousand-leg plan.  Chunked replay of the same
    range must equal what one oversized call would have returned."""
    import pytest

    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=2
    )
    sink.MAX_COW_DIFFS = 4  # instance override: keep the test fast
    n = 7
    for i in range(n):
        sink.process_batch(_batch(spark, [(i, f"v{i}", "c", i)]), i)
    with pytest.raises(ValueError, match="chunks"):
        sink.changes_between(spark, -1, n - 1)
    # chunked consumption covers the same range losslessly
    got = _feed(sink, spark, -1, 3) + _feed(sink, spark, 3, n - 1)
    assert sorted(got) == sorted(
        [(i, f"v{i}", "c", i, i) for i in range(n)]
    )


def test_feed_driven_aggregate_tracks_recompute_through_maintenance(
    spark, tmp_path
):
    """A maintained per-group aggregate consuming ONLY the feed must
    equal a full recompute after EVERY commit — including across a
    compaction and a rebucket (whose feeds are empty) interleaved with
    real changes.  This is the incremental-view-maintenance consumer
    the cdf_incremental_view_maintenance oracle checks end-state for,
    here verified step-by-step through maintenance commits."""
    from lakehouse_cdc_spark.cdc.incremental import (
        apply_moment_adjustments,
        delta_moment_adjustments,
    )

    def g(spark, rows):
        return spark.createDataFrame(
            rows, "id int, grp string, val long, operation string, seq int"
        )

    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=2
    )
    sink.process_batch(
        g(spark, [(i, "ab"[i % 2], 10 * i, "c", 0) for i in range(10)]), 0
    )

    def recompute():
        return sorted(
            (r.grp, r.cnt, r.s)
            for r in sink.current_table(spark)
            .groupBy("grp")
            .agg(F.count("*").alias("cnt"), F.sum("val").alias("s"))
            .collect()
        )

    agg = (
        sink.current_table(spark)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum("val").cast("bigint").alias("s"),
        )
    )
    last = sink.committed_snapshot()

    def advance():
        nonlocal agg, last
        snap = sink.committed_snapshot()
        for s in range(last + 1, snap + 1):
            feed = sink.changes_between(spark, s - 1, s)
            if feed is None or not feed.take(1):
                continue
            prev_vis = sink.state_at(spark, s - 1).filter(
                F.col("operation") != "d"
            )
            adj = delta_moment_adjustments(
                prev_vis, feed, keys=["id"], group_col="grp",
                measures={"s": F.col("val")},
            )
            agg = apply_moment_adjustments(agg, adj, "grp", "cnt", ["s"])
        last = snap
        return sorted((r.grp, r.cnt, r.s) for r in agg.collect())

    # update + insert
    sink.process_batch(
        g(spark, [(3, "a", 999, "u", 1), (77, "b", 5, "c", 1)]), 1
    )
    assert advance() == recompute()
    # maintenance: rebucket (empty feed) then a delete
    sink.rebucket(spark, 8)
    sink.process_batch(g(spark, [(4, "a", 0, "d", 2)]), 2)
    assert advance() == recompute()
    # a group draining to zero drops out of the maintained view
    sink.process_batch(
        g(spark, [(i, "b", 0, "d", 3) for i in range(10) if i % 2 == 1]
          + [(77, "b", 0, "d", 3)]), 3
    )
    got = advance()
    assert got == recompute()
    assert all(grp != "b" for grp, _, _ in got)
