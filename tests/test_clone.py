"""Shallow clone (round 6): zero-copy snapshot cloning via hardlinks
— the clone reads identically, evolves independently in BOTH
directions, and shares inodes (no data copied) while the engine's
never-mutate-published-files invariant keeps the share safe."""

import json
import os

import pyspark.sql.functions as F

from lakehouse_cdc_spark.streaming import SnapshotUpsertSink


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "id int, v string, operation string, seq int"
    )


def _vis(sink, spark):
    return sorted(
        (r.id, r.v, r.seq) for r in sink.current_table(spark).collect()
    )


def test_clone_reads_equal_and_evolves_independently(spark, tmp_path):
    src = SnapshotUpsertSink(
        str(tmp_path / "src"), keys=["id"], order_by=["seq"], n_buckets=4
    )
    src.process_batch(
        _batch(spark, [(i, f"v{i}", "c", 0) for i in range(20)]), 0
    )
    src.process_batch(_batch(spark, [(3, "v3b", "u", 1)]), 1)
    before = _vis(src, spark)

    clone = src.clone_to(str(tmp_path / "dev"))
    assert _vis(clone, spark) == before
    assert clone.committed_snapshot() == src.committed_snapshot()

    # the data files are SHARED inodes (no bytes copied)
    src_files = {}
    for root, _, files in os.walk(str(tmp_path / "src")):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                src_files[os.path.relpath(p, str(tmp_path / "src"))] = (
                    os.stat(p).st_ino
                )
    shared = 0
    for root, _, files in os.walk(str(tmp_path / "dev")):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                rel = os.path.relpath(p, str(tmp_path / "dev"))
                if rel in src_files:
                    assert os.stat(p).st_ino == src_files[rel], rel
                    shared += 1
    assert shared > 0

    # clone evolves; the source must not see it
    clone.process_batch(_batch(spark, [(100, "dev-only", "c", 2)]), 2)
    assert (100, "dev-only", 2) in _vis(clone, spark)
    assert all(i != 100 for i, _, _ in _vis(src, spark))

    # and vice versa
    src.process_batch(_batch(spark, [(3, None, "d", 2)]), 2)
    assert all(i != 3 for i, _, _ in _vis(src, spark))
    assert (3, "v3b", 1) in _vis(clone, spark)

    # clone's feed works FORWARD from the clone point…
    snap = clone.committed_snapshot()
    feed = clone.changes_between(spark, snap - 1, snap)
    assert [(r.id, r.v) for r in feed.collect()] == [(100, "dev-only")]
    # …and refuses pre-clone history (no manifests before the clone)
    try:
        clone.changes_between(spark, -1, snap)
        raise AssertionError("pre-clone range must refuse")
    except ValueError as e:
        assert "manifest" in str(e)


def test_clone_preserves_mor_deltas_and_refuses_overwrite(spark, tmp_path):
    src = SnapshotUpsertSink(
        str(tmp_path / "src"),
        keys=["id"],
        order_by=["seq"],
        n_buckets=2,
        merge_on_read=True,
        fold_deltas_every=None,
    )
    src.process_batch(_batch(spark, [(1, "a", "c", 0)]), 0)
    src.process_batch(_batch(spark, [(1, "a2", "u", 1)]), 1)
    assert src.pending_deltas()

    clone = src.clone_to(str(tmp_path / "dev"))
    assert _vis(clone, spark) == [(1, "a2", 1)]  # deltas carried over
    assert clone.pending_deltas() == src.pending_deltas()
    clone.fold_deltas(spark)  # clone folds without touching the source
    assert not clone.pending_deltas() and src.pending_deltas()
    assert _vis(src, spark) == _vis(clone, spark) == [(1, "a2", 1)]

    import pytest

    with pytest.raises(ValueError, match="already exists"):
        src.clone_to(str(tmp_path / "dev"))


def test_clone_refuses_nonempty_target_including_crashed_attempts(
    spark, tmp_path
):
    """A clone that crashed mid-link leaves files but no _VERSION; a
    retry over them would collide with its own hardlinks — any
    non-empty target refuses with a clean error instead (round-6
    review finding)."""
    import pytest

    src = SnapshotUpsertSink(
        str(tmp_path / "src"), keys=["id"], order_by=["seq"], n_buckets=1
    )
    src.process_batch(_batch(spark, [(1, "a", "c", 0)]), 0)
    half = tmp_path / "half"
    (half / "v=0").mkdir(parents=True)
    (half / "v=0" / "leftover.parquet").write_bytes(b"crashed attempt")
    with pytest.raises(ValueError, match="non-empty"):
        src.clone_to(str(half))
    # an empty pre-created directory is fine
    (tmp_path / "empty").mkdir()
    clone = src.clone_to(str(tmp_path / "empty"))
    assert _vis(clone, spark) == [(1, "a", 0)]


def test_clone_keeps_check_constraints_and_zone_maps(spark, tmp_path):
    """A clone carries every table setting of its source: a row that
    violates the source's CHECK constraint is quarantined by the clone
    too (not committed), and a zone-mapped clone records zones for the
    buckets it rewrites."""
    src = SnapshotUpsertSink(
        str(tmp_path / "src"),
        keys=["id"],
        order_by=["seq"],
        n_buckets=2,
        checks={"v_set": "v IS NOT NULL"},
        zone_cols=["id"],
    )
    src.process_batch(_batch(spark, [(1, "a", "c", 0), (2, "b", "c", 0)]), 0)
    clone = src.clone_to(str(tmp_path / "dev"))

    clone.process_batch(_batch(spark, [(3, None, "c", 1), (4, "d", "c", 1)]), 1)
    assert [i for i, _, _ in _vis(clone, spark)] == [1, 2, 4]
    bad = clone.quarantine_table(spark)
    assert [(r["id"], r["__check"]) for r in bad.collect()] == [(3, "v_set")]

    snap = clone.committed_snapshot()
    zones = clone.stats_table(spark).filter(F.col("stat") == "zone").collect()
    manifest = clone._read_manifest(snap)
    rewritten = {b for b, at in manifest["buckets"].items() if at == snap}
    assert rewritten
    assert rewritten <= {str(r.bucket) for r in zones}
