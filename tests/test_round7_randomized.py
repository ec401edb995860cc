"""Randomized co-stress of the round-7 operators (seeded, deterministic):
a random change stream (inserts / re-embeddings / deletes) interleaved
with random maintenance (compaction, rebucket, tombstone-free folds)
drives a base sink; the ANN index is maintained through a FeedCursor;
afterwards the maintained index must equal a rebuild AND the
expiry-safety dry run must predict expire_snapshots exactly.  One
scenario per seed — the composition bugs (feed across rebucket,
reclaimed history, replay after maintenance) only show up under
interleavings no hand-written test enumerates."""

import random

import pytest

from lakehouse_cdc_spark.maintenance import expire_snapshots, expiry_safety
from lakehouse_cdc_spark.streaming import SnapshotUpsertSink
from lakehouse_cdc_spark.streaming.feed import FeedCursor
from lakehouse_cdc_spark.streaming.indexing import (
    ann_index_changes,
    rebuild_ann_index,
)

_DIM = 4


def _centroids(spark):
    rows = [(i, [1.0 if j == i else 0.0 for j in range(_DIM)]) for i in range(3)]
    return spark.createDataFrame(rows, "cid long, cemb array<float>")


def _vec(rng):
    axis = rng.randrange(3)
    v = [rng.uniform(0.01, 0.2) for _ in range(_DIM)]
    v[axis] = 1.0
    return [float(x) for x in v]


@pytest.mark.chaos
@pytest.mark.parametrize("seed", [11, 23, 47])
def test_random_stream_keeps_index_and_expiry_predictions_exact(
    spark, tmp_path, seed
):
    rng = random.Random(seed)
    base = SnapshotUpsertSink(
        str(tmp_path / "base"), keys=["vec_id"], order_by=["seq"], n_buckets=2
    )
    idx = SnapshotUpsertSink(
        str(tmp_path / "idx"), keys=["vec_id"], order_by=["seq"], n_buckets=2
    )
    cents = _centroids(spark)
    cursor = FeedCursor(base, str(tmp_path / "cursor.json"))
    live: set[int] = set()

    def advance():
        while True:
            feed, to_snap, ack = cursor.next_batch(spark)
            if feed is None:
                return
            idx.process_batch(
                ann_index_changes(feed, cents, snapshot=to_snap), to_snap
            )
            ack()

    next_id = 0
    for batch_id in range(8):
        rows = []
        seq = batch_id * 100  # distinct, increasing within the batch —
        # equal order keys on one key would make last-write-wins a tie
        prev_live = sorted(live)  # only touch keys from EARLIER batches
        # inserts
        for _ in range(rng.randrange(1, 4)):
            rows.append((next_id, _vec(rng), "c", seq))
            live.add(next_id)
            next_id += 1
            seq += 1
        # re-embeddings of random previously-live vectors
        for v in rng.sample(prev_live, k=min(len(prev_live), rng.randrange(0, 3))):
            rows.append((v, _vec(rng), "u", seq))
            seq += 1
        # occasional delete (never of a key touched above this batch)
        touched = {r[0] for r in rows}
        deletable = [v for v in prev_live if v not in touched]
        if deletable and rng.random() < 0.4:
            v = rng.choice(deletable)
            rows.append((v, None, "d", seq))
            seq += 1
            live.discard(v)
        base.process_batch(
            spark.createDataFrame(
                rows,
                "vec_id long, embedding array<float>, operation string, "
                "seq long",
            ),
            batch_id,
        )
        # random maintenance between data commits
        r = rng.random()
        if r < 0.25:
            base.compact_buckets(spark, min_files=1)
        elif r < 0.4:
            base.rebucket(spark, rng.choice([2, 3, 4]))
        advance()

    got = sorted(
        (r.vec_id, r.cluster)
        for r in idx.current_table(spark).collect()
    )
    want = sorted(
        (r.vec_id, r.cluster)
        for r in rebuild_ann_index(
            base.current_table(spark), cents
        ).collect()
    )
    assert got == want
    assert {v for v, _ in got} == live

    # expiry dry run must predict the actual removal set exactly,
    # whatever reference structure the random maintenance left behind
    retain = rng.choice([1, 2, 3])
    predicted = {
        r["snapshot"]
        for r in expiry_safety(base.target_dir, retain_last=retain)
        if r["would_expire"]
    }
    assert set(expire_snapshots(base.target_dir, retain_last=retain)) == (
        predicted
    )
    # base still serves its committed state after the real expiry
    assert {
        r.vec_id for r in base.current_table(spark).collect()
    } == live


_WORDS = [
    "spark", "merge", "rows", "vector", "stream", "delta", "bucket",
    "index", "shingle", "corpus", "feed", "snapshot",
]


def _text(rng):
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randrange(3, 9)))


@pytest.mark.chaos
@pytest.mark.parametrize("seed", [5, 31])
def test_random_stream_keeps_lsh_index_exact(spark, tmp_path, seed):
    """Same co-stress shape for the round-7 LSH band index: a random
    document change stream interleaved with compaction/rebucket, the
    index maintained through a FeedCursor, must equal a from-scratch
    signature rebuild at the end — under interleavings (edits across
    rebucket, deletes of compacted docs, replay boundaries) no
    hand-written case enumerates."""
    from lakehouse_cdc_spark.streaming.indexing import (
        lsh_index_changes,
        rebuild_lsh_index,
    )

    rng = random.Random(seed)
    base = SnapshotUpsertSink(
        str(tmp_path / "base"), keys=["doc"], order_by=["seq"], n_buckets=2
    )
    idx = SnapshotUpsertSink(
        str(tmp_path / "idx"),
        keys=["doc", "band"],
        order_by=["seq"],
        n_buckets=2,
    )
    cursor = FeedCursor(base, str(tmp_path / "cursor.json"))
    live: set[int] = set()

    def advance():
        while True:
            feed, to_snap, ack = cursor.next_batch(spark)
            if feed is None:
                return
            idx.process_batch(lsh_index_changes(feed, snapshot=to_snap), to_snap)
            ack()

    next_id = 0
    for batch_id in range(6):
        rows = []
        seq = batch_id * 100
        prev_live = sorted(live)
        for _ in range(rng.randrange(1, 4)):
            rows.append((next_id, _text(rng), "c", seq))
            live.add(next_id)
            next_id += 1
            seq += 1
        for d in rng.sample(prev_live, k=min(len(prev_live), rng.randrange(0, 3))):
            rows.append((d, _text(rng), "u", seq))
            seq += 1
        touched = {r[0] for r in rows}
        deletable = [d for d in prev_live if d not in touched]
        if deletable and rng.random() < 0.4:
            d = rng.choice(deletable)
            rows.append((d, None, "d", seq))
            seq += 1
            live.discard(d)
        base.process_batch(
            spark.createDataFrame(
                rows, "doc long, text string, operation string, seq long"
            ),
            batch_id,
        )
        r = rng.random()
        if r < 0.25:
            base.compact_buckets(spark, min_files=1)
        elif r < 0.4:
            base.rebucket(spark, rng.choice([2, 3, 4]))
        advance()

    got = sorted(
        (r.doc, r.band, r.band_key)
        for r in idx.current_table(spark).collect()
    )
    want = sorted(
        (r.doc, r.band, r.band_key)
        for r in rebuild_lsh_index(base.current_table(spark)).collect()
    )
    assert got == want
    assert {d for d, _, _ in got} == live
