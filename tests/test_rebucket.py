"""Partition evolution on the snapshot sink (round 6): ``rebucket``
rewrites the whole state into a new bucket count under one
manifest-fenced commit, preserving state, time travel, the change
feed's no-phantom invariant, and lookup correctness."""

import json
import os

import pyspark.sql.functions as F

from lakehouse_cdc_spark.streaming import SnapshotUpsertSink


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "id int, v string, operation string, seq int"
    )


def _visible(sink, spark):
    return sorted(
        (r.id, r.v, r.seq)
        for r in sink.current_table(spark).collect()
    )


def test_rebucket_preserves_state_and_serves_new_writes(spark, tmp_path):
    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=4
    )
    sink.process_batch(
        _batch(spark, [(i, f"v{i}", "c", 0) for i in range(40)]), 0
    )
    sink.process_batch(_batch(spark, [(7, None, "d", 1)]), 1)  # a tombstone
    before = _visible(sink, spark)
    pre_snap = sink.committed_snapshot()

    snap = sink.rebucket(spark, 16)
    assert snap == pre_snap + 1
    # state byte-identical (tombstone included in raw state)
    assert _visible(sink, spark) == before
    raw = sink.current_state(spark)
    assert raw.filter(F.col("operation") == "d").count() == 1
    # manifest carries the new map; every row lives in its hash bucket
    with open(sink._manifest_path(snap)) as f:
        m = json.load(f)
    assert m["n_buckets"] == 16
    # time travel to before the rebucket still reads the OLD map
    old = sorted(
        (r.id, r.v, r.seq)
        for r in sink.state_at(spark, pre_snap)
        .filter(F.col("operation") != "d")
        .collect()
    )
    assert old == before
    # later merges use the new map: update + insert land correctly
    sink.process_batch(
        _batch(spark, [(3, "v3b", "u", 2), (100, "new", "c", 2)]), 2
    )
    got = dict((r.id, r.v) for r in sink.current_table(spark).collect())
    assert got[3] == "v3b" and got[100] == "new" and 7 not in got
    # key lookup against the new map finds the row
    hit = sink.lookup(spark, "id", 100)
    assert [r.v for r in hit.filter("id = 100").collect()] == ["new"]


def test_rebucket_emits_no_phantom_changes(spark, tmp_path):
    """The feed across a rebucket boundary must be EMPTY (rows
    identical, no order advance) even though every bucket was
    rewritten under new ids — and a later real change still comes
    through alone."""
    sink = SnapshotUpsertSink(
        str(tmp_path / "t"), keys=["id"], order_by=["seq"], n_buckets=2
    )
    sink.process_batch(
        _batch(spark, [(i, f"v{i}", "c", 0) for i in range(20)]), 0
    )
    snap = sink.rebucket(spark, 8)
    df = sink.changes_between(spark, snap - 1, snap)
    assert df is None or df.count() == 0
    sink.process_batch(_batch(spark, [(5, "v5b", "u", 1)]), 1)
    feed = [
        (r.id, r.v, r._change_snapshot)
        for r in sink.changes_between(spark, snap - 1, snap + 1).collect()
    ]
    assert feed == [(5, "v5b", snap + 1)]


def test_rebucket_drops_stale_blooms_and_guards_noops(spark, tmp_path):
    sink = SnapshotUpsertSink(
        str(tmp_path / "t"),
        keys=["id"],
        order_by=["seq"],
        n_buckets=4,
        bloom_cols=["v"],
    )
    sink.process_batch(
        _batch(spark, [(i, f"v{i}", "c", 0) for i in range(30)]), 0
    )
    with open(sink._manifest_path(0)) as f:
        assert json.load(f).get("blooms")  # filters exist pre-rebucket
    snap = sink.rebucket(spark, 8)
    with open(sink._manifest_path(snap)) as f:
        m = json.load(f)
    # old-map filters would prune WRONG buckets: they are replaced by
    # filters rebuilt under the new map, one per new bucket...
    assert m["n_buckets"] == 8
    assert set(m["blooms"]["cols"]["v"]) == set(m["buckets"])
    # ...and value lookup answers correctly with them
    hit = sink.lookup(spark, "v", "v17")
    assert [r.id for r in hit.filter("v = 'v17'").collect()] == [17]
    # no-op guard: same count returns the current snapshot, no commit
    assert sink.rebucket(spark, 8) == snap
    assert sink.committed_snapshot() == snap
    # a fresh merge rebuilds filters under the new map
    sink.process_batch(_batch(spark, [(99, "v99", "c", 1)]), 1)
    with open(sink._manifest_path(snap + 1)) as f:
        assert json.load(f).get("blooms")


def test_rebucket_folds_mor_deltas_first(spark, tmp_path):
    sink = SnapshotUpsertSink(
        str(tmp_path / "t"),
        keys=["id"],
        order_by=["seq"],
        n_buckets=2,
        merge_on_read=True,
        fold_deltas_every=None,
    )
    sink.process_batch(_batch(spark, [(1, "a", "c", 0), (2, "b", "c", 0)]), 0)
    sink.process_batch(_batch(spark, [(1, "a2", "u", 1)]), 1)
    assert sink.pending_deltas()
    snap = sink.rebucket(spark, 8)
    assert not sink.pending_deltas()
    got = dict((r.id, r.v) for r in sink.current_table(spark).collect())
    assert got == {1: "a2", 2: "b"}
    with open(sink._manifest_path(snap)) as f:
        assert json.load(f)["n_buckets"] == 8


def test_rebucket_rebuilds_blooms_and_zones_for_pruned_lookups(spark, tmp_path):
    """A rebucket keeps lookup pruning: the bloom filters and zone maps
    are rebuilt under the new map, so both probes name a strict subset
    of the buckets, and the pruned lookups return exactly the rows an
    unpruned read finds."""
    sink = SnapshotUpsertSink(
        str(tmp_path / "t"),
        keys=["id"],
        order_by=["seq"],
        n_buckets=2,
        bloom_cols=["v"],
        zone_cols=["d"],
    )
    sink.process_batch(
        spark.createDataFrame(
            [(i, f"v{i}", i * 10, "c", 0) for i in range(80)],
            "id int, v string, d long, operation string, seq int",
        ),
        0,
    )
    sink.rebucket(spark, 8)
    manifest = sink._read_manifest(sink.committed_snapshot())
    buckets = {int(b) for b in manifest["buckets"]}
    assert len(buckets) == 8
    full = sink.current_table(spark)

    point = set(sink.probe_buckets(spark, "v", "v17"))
    assert point < buckets
    got = sorted((r.id, r.d) for r in sink.lookup(spark, "v", "v17").collect())
    want = sorted((r.id, r.d) for r in full.filter(F.col("v") == "v17").collect())
    assert got == want == [(17, 170)]

    span = set(sink.zone_probe_buckets("d", 0, 0))
    assert span < buckets
    got = sorted((r.id, r.d) for r in sink.lookup_range(spark, "d", 0, 25).collect())
    want = sorted(
        (r.id, r.d) for r in full.filter(F.col("d").between(0, 25)).collect()
    )
    assert got == want == [(0, 0), (1, 10), (2, 20)]
