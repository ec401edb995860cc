"""Write-audit-publish branches + tags on the snapshot sink.

The WAP contract under test: staged snapshots are durable and fully
readable through the branch ref but INVISIBLE to main readers;
publish is an atomic fast-forward; abort leaves main bit-identical;
crashes on either side of the ref update recover correctly; refs pin
snapshots against expiry; and the exactly-once replay guard carries
across publish.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from lakehouse_cdc_spark.maintenance import expire_snapshots, expiry_safety
from lakehouse_cdc_spark.streaming import SnapshotUpsertSink
from lakehouse_cdc_spark.streaming.pipeline import ConcurrentCommitError

#: the checkout under test, for the child processes' sys.path
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "k long, val string, operation string, seq long"
    )


def _mk_sink(**kw):
    return SnapshotUpsertSink(
        tempfile.mkdtemp(prefix="wap_"),
        keys=["k"],
        order_by=["seq"],
        n_buckets=4,
        **kw,
    )


def _vals(df):
    return {r.k: r.val for r in df.collect()}


@pytest.fixture()
def seeded(spark):
    sink = _mk_sink()
    sink.process_batch(
        _batch(spark, [(i, f"v{i}", "c", 0) for i in range(10)]), 0
    )
    return sink


def test_stage_is_invisible_until_publish(spark, seeded):
    sink = seeded
    sink.create_branch("audit")
    sink.stage_batch(
        "audit",
        _batch(spark, [(3, "staged3", "u", 1), (99, "new99", "c", 1)]),
        1,
    )
    # main readers see the pre-stage state
    assert sink.committed_snapshot() == 0
    main = _vals(sink.current_table(spark))
    assert main[3] == "v3" and 99 not in main
    # the branch ref sees the staged merge
    branch = _vals(sink.table_at_ref(spark, "audit"))
    assert branch[3] == "staged3" and branch[99] == "new99"
    # publish = atomic fast-forward
    head = sink.publish_branch("audit")
    assert sink.committed_snapshot() == head == 1
    after = _vals(sink.current_table(spark))
    assert after[3] == "staged3" and after[99] == "new99"
    assert "audit" not in sink.refs()["branches"]
    # claims released: a fresh main batch commits normally
    sink.process_batch(_batch(spark, [(1, "post", "u", 2)]), 2)
    assert sink.committed_snapshot() == 2


def test_multi_batch_stage_chains_on_branch_head(spark, seeded):
    sink = seeded
    sink.create_branch("audit")
    sink.stage_batch("audit", _batch(spark, [(1, "s1", "u", 1)]), 1)
    sink.stage_batch("audit", _batch(spark, [(2, "s2", "u", 2)]), 2)
    assert sink.refs()["branches"]["audit"]["snapshot"] == 2
    branch = _vals(sink.table_at_ref(spark, "audit"))
    assert branch[1] == "s1" and branch[2] == "s2"
    assert sink.committed_snapshot() == 0
    sink.publish_branch("audit")
    assert sink.committed_snapshot() == 2
    # the intermediate staged snapshot is regular history now
    mid = _vals(
        sink.state_at(spark, 1).filter(F.col("operation") != "d")
    )
    assert mid[1] == "s1" and mid[2] == "v2"


def test_main_writer_fails_fast_while_staged(spark, seeded):
    sink = seeded
    sink.create_branch("audit")
    sink.stage_batch("audit", _batch(spark, [(1, "s1", "u", 1)]), 1)
    with pytest.raises(ConcurrentCommitError):
        sink.process_batch(_batch(spark, [(2, "m", "u", 1)]), 1)
    sink.abort_branch("audit")
    # lane unfrozen after abort
    sink.process_batch(_batch(spark, [(2, "m", "u", 1)]), 1)
    assert _vals(sink.current_table(spark))[2] == "m"


def test_abort_leaves_main_untouched(spark, seeded):
    sink = seeded
    before = _vals(sink.current_table(spark))
    sink.create_branch("audit")
    sink.stage_batch("audit", _batch(spark, [(5, "bad", "u", 1)]), 1)
    assert sink.abort_branch("audit") == 1
    assert _vals(sink.current_table(spark)) == before
    # staged artifacts fully gone
    assert not os.path.isdir(sink._snapshot_path(1))
    assert not os.path.exists(sink._manifest_path(1))
    assert not os.path.exists(sink._claim_path(1))
    with pytest.raises(ValueError):
        sink.state_at(spark, 1)


def test_staged_checks_quarantine_before_publish(spark):
    sink = _mk_sink(checks={"val_set": "val IS NOT NULL"})
    sink.process_batch(
        _batch(spark, [(i, f"v{i}", "c", 0) for i in range(4)]), 0
    )
    sink.create_branch("audit")
    sink.stage_batch(
        "audit",
        _batch(spark, [(1, None, "u", 1), (2, "ok", "u", 1)]),
        1,
    )
    # the violator never reached the staged state; audit reads both lanes
    branch = _vals(sink.table_at_ref(spark, "audit"))
    assert branch[1] == "v1" and branch[2] == "ok"
    q = sink.quarantine_table(spark)
    assert q.filter(F.col("__check") == "val_set").count() == 1


def test_replay_guards_on_branch_and_after_publish(spark, seeded):
    sink = seeded
    sink.create_branch("audit")
    sink.stage_batch("audit", _batch(spark, [(1, "s1", "u", 1)]), 1)
    # replayed staged batch: no-op on the branch
    sink.stage_batch("audit", _batch(spark, [(1, "dup", "u", 1)]), 1)
    assert sink.refs()["branches"]["audit"]["snapshot"] == 1
    sink.publish_branch("audit")
    # replayed after publish: the main exactly-once guard skips it
    sink.process_batch(_batch(spark, [(1, "dup", "u", 1)]), 1)
    assert _vals(sink.current_table(spark))[1] == "s1"


def test_recover_leaves_live_staged_branch_alone(spark, seeded):
    sink = seeded
    sink.create_branch("audit")
    sink.stage_batch("audit", _batch(spark, [(1, "s1", "u", 1)]), 1)
    assert sink.recover_interrupted_commit() is None
    assert sink.refs()["branches"]["audit"]["snapshot"] == 1
    assert _vals(sink.table_at_ref(spark, "audit"))[1] == "s1"


def test_recover_rolls_back_stage_crashed_before_ref_update(spark, seeded):
    sink = seeded
    sink.create_branch("audit")
    sink.stage_batch("audit", _batch(spark, [(1, "s1", "u", 1)]), 1)
    # simulate the crash window: manifest+claim durable, ref not yet
    # advanced — rewind the ref document by hand
    refs = sink.refs()
    refs["branches"]["audit"] = {"base": 0, "snapshot": 0, "batch": None}
    sink._write_refs(refs)
    assert sink.recover_interrupted_commit() == "rolled_back"
    assert not os.path.isdir(sink._snapshot_path(1))
    assert sink.committed_snapshot() == 0
    # branch still usable: restage cleanly
    sink.stage_batch("audit", _batch(spark, [(1, "s1b", "u", 2)]), 2)
    assert _vals(sink.table_at_ref(spark, "audit"))[1] == "s1b"


def test_publish_idempotent_after_crash_between_pointer_and_refs(
    spark, seeded
):
    sink = seeded
    sink.create_branch("audit")
    sink.stage_batch("audit", _batch(spark, [(1, "s1", "u", 1)]), 1)
    # crash window: pointer already fast-forwarded, ref cleanup lost
    m = sink._read_manifest(1)
    sink._publish_pointer(
        m.get("committed_lineage") or None, m["committed_batch"], 1
    )
    assert sink.committed_snapshot() == 1
    head = sink.publish_branch("audit")  # the retry
    assert head == 1
    assert "audit" not in sink.refs()["branches"]
    assert not os.path.exists(sink._claim_path(1))


def test_tags_pin_snapshots_against_expiry(spark, seeded):
    sink = seeded
    sink.create_tag("baseline")  # pins snapshot 0
    for i in range(1, 6):
        sink.process_batch(
            _batch(spark, [(i % 10, f"r{i}", "u", i)]), i
        )
    rows = {r["snapshot"]: r for r in expiry_safety(sink.target_dir, 2)}
    assert rows[0]["would_expire"] is False  # tagged
    expired = expire_snapshots(sink.target_dir, retain_last=2)
    assert 0 not in expired
    # the tagged snapshot stays fully time-travelable
    tagged = _vals(
        sink.state_at_ref(spark, "baseline").filter(
            F.col("operation") != "d"
        )
    )
    assert tagged[3] == "v3"
    # and tags are immutable
    with pytest.raises(ValueError):
        sink.create_tag("baseline", 5)
    sink.delete_tag("baseline")
    with pytest.raises(KeyError):
        sink.resolve_ref("baseline")


def test_branch_chain_pinned_against_expiry(spark, seeded):
    sink = seeded
    sink.create_branch("audit")
    sink.stage_batch("audit", _batch(spark, [(1, "s1", "u", 1)]), 1)
    # expiry with retain_last=1 must keep the staged chain (base..head)
    expired = expire_snapshots(sink.target_dir, retain_last=1)
    assert expired == []
    assert _vals(sink.table_at_ref(spark, "audit"))[1] == "s1"
    sink.publish_branch("audit")
    assert sink.committed_snapshot() == 1


def test_staged_cdc_pipeline_stream_to_branch(spark, tmp_path):
    """A real Structured Streaming drain into a branch: the stream's
    micro-batches stage invisibly, audit sees them on the branch, and
    publish makes main jump to the drained state atomically."""
    from lakehouse_cdc_spark.streaming import staged_cdc_pipeline

    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    sink = _mk_sink()
    sink.process_batch(
        _batch(spark, [(i, f"v{i}", "c", 0) for i in range(6)]), 0
    )
    sink.create_branch("drain")
    _batch(
        spark, [(2, "streamed2", "u", 1), (50, "new50", "c", 1)]
    ).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(
        "k long, val string, operation string, seq long"
    ).parquet(str(src))
    q = staged_cdc_pipeline(stream, sink, "drain", ckpt)
    q.awaitTermination(120)
    # staged only: main unchanged, branch drained
    assert sink.committed_snapshot() == 0
    assert _vals(sink.current_table(spark))[2] == "v2"
    branch = _vals(sink.table_at_ref(spark, "drain"))
    assert branch[2] == "streamed2" and branch[50] == "new50"
    head = sink.publish_branch("drain")
    after = _vals(sink.current_table(spark))
    assert after[2] == "streamed2" and after[50] == "new50"
    assert sink.committed_snapshot() == head


def test_feed_cursor_sees_publish_atomically(spark, seeded, tmp_path):
    """A change-feed consumer's view of WAP: while staged, the cursor
    has NOTHING to consume (main never moved); after publish, the
    whole staged chain arrives as ordinary feed snapshots, exactly
    once."""
    from lakehouse_cdc_spark.streaming.feed import FeedCursor

    sink = seeded
    cur = FeedCursor(sink, str(tmp_path / "cursor.json"))
    df, to_snap, ack = cur.next_batch(spark)
    if df is not None:  # drain the seed commit
        ack()
    assert cur.acked() == 0
    sink.create_branch("audit")
    sink.stage_batch("audit", _batch(spark, [(1, "s1", "u", 1)]), 1)
    sink.stage_batch(
        "audit", _batch(spark, [(2, "s2", "u", 2), (77, "n77", "c", 2)]), 2
    )
    # staged only: the feed has nothing for the consumer
    df, _, _ = cur.next_batch(spark)
    assert df is None
    sink.publish_branch("audit")
    df, to_snap, ack = cur.next_batch(spark)
    rows = {(r.k): r for r in df.collect()}
    assert rows[1].val == "s1" and rows[2].val == "s2"
    assert rows[77].val == "n77"
    ack()
    assert cur.acked() == to_snap == 2
    # exactly-once: nothing re-delivered
    df, _, _ = cur.next_batch(spark)
    assert df is None


# ---------------------------------------------------------------------------
# Seeded randomized WAP lifecycle walk vs an in-memory model
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [7, 31])
def test_random_wap_walk_matches_model(spark, seed):
    """A random interleaving of main commits, branch stage/publish/
    abort, tagging, and snapshot expiry, checked after every step
    against a pure-Python model of the table: the main view must only
    ever change at a main commit or a publish; the branch view must
    track staged state exactly; expiry must never break a pinned tag.
    Composition bugs (publish after expiry, abort after multi-stage,
    tag on a staged-era snapshot) only show up under interleavings no
    hand-written test enumerates."""
    import random

    rng = random.Random(seed)
    sink = _mk_sink()
    model_main: dict[int, str] = {}
    model_branch: dict[int, str] | None = None
    branch_open = False
    batch_id = 0
    tagged: dict[str, dict[int, str]] = {}

    def commit_main(rows):
        nonlocal batch_id
        sink.process_batch(_batch(spark, rows), batch_id)
        for k, v, op, _ in rows:
            if op == "d":
                model_main.pop(k, None)
            else:
                model_main[k] = v
        batch_id += 1

    def rand_rows():
        nonlocal batch_id
        rows = []
        for _ in range(rng.randrange(1, 4)):
            k = rng.randrange(0, 12)
            if rng.random() < 0.2 and k in model_main:
                rows.append((k, "x", "d", batch_id))
            else:
                rows.append((k, f"b{batch_id}k{k}", "u", batch_id))
        # one op per key per batch: the model below applies ops in list
        # order, but the sink compacts by (seq) — dedupe to the LAST op
        last = {}
        for r in rows:
            last[r[0]] = r
        return list(last.values())

    commit_main([(i, f"v{i}", "c", 0) for i in range(6)])

    # 10 steps per seed (was 14): the r11 wall-time budget trim the
    # round-10 verdict asked for — seeds kept, coverage per step
    # unchanged, two seeds still cross the publish/abort/expire space
    for step in range(10):
        ops = ["main", "tag", "expire", "recover", "compact"]
        if branch_open:
            ops += ["stage", "stage", "publish", "abort"]
        else:
            ops += ["open"]
        op = rng.choice(ops)
        if op == "main" and branch_open:
            # lane frozen: the freeze itself is the invariant — a main
            # commit must fail fast and change nothing
            with pytest.raises(ConcurrentCommitError):
                sink.process_batch(_batch(spark, rand_rows()), batch_id)
            op = "noop"
        if op == "main":
            commit_main(rand_rows())
        elif op == "open":
            sink.create_branch("b")
            model_branch = dict(model_main)
            branch_open = True
        elif op == "stage":
            rows = rand_rows()
            sink.stage_batch("b", _batch(spark, rows), batch_id)
            for k, v, o, _ in rows:
                if o == "d":
                    model_branch.pop(k, None)
                else:
                    model_branch[k] = v
            batch_id += 1
        elif op == "publish":
            sink.publish_branch("b")
            model_main = dict(model_branch)
            model_branch, branch_open = None, False
        elif op == "abort":
            sink.abort_branch("b")
            model_branch, branch_open = None, False
        elif op == "tag":
            name = f"t{step}"
            sink.create_tag(name)
            tagged[name] = dict(model_main)
        elif op == "expire":
            expire_snapshots(sink.target_dir, retain_last=2)
        elif op == "recover":
            # recovery on a HEALTHY table (incl. one with a live staged
            # branch) must change nothing observable
            assert sink.recover_interrupted_commit() is None
        elif op == "compact":
            if branch_open:
                # maintenance is a writer too: the frozen lane must
                # reject it exactly like a live batch
                with pytest.raises(ConcurrentCommitError):
                    sink.compact_buckets(spark, min_files=1)
            else:
                # compaction is state-preserving by contract
                sink.compact_buckets(spark, min_files=1)
        # invariants after EVERY step
        assert _vals(sink.current_table(spark)) == model_main
        if branch_open:
            assert _vals(sink.table_at_ref(spark, "b")) == model_branch
        for name, snap_model in tagged.items():
            got = _vals(
                sink.state_at_ref(spark, name).filter(
                    F.col("operation") != "d"
                )
            )
            assert got == snap_model, f"tag {name} drifted"


def test_snapshots_table_lists_refs(spark, seeded):
    sink = seeded
    sink.create_tag("gold")
    sink.create_branch("audit")
    sink.stage_batch("audit", _batch(spark, [(1, "s1", "u", 1)]), 1)
    snaps = {r.snapshot: r for r in sink.snapshots_table(spark).collect()}
    assert snaps[0].refs == "tag:gold"
    assert snaps[1].refs == "branch:audit"
    sink.publish_branch("audit")
    snaps = {r.snapshot: r for r in sink.snapshots_table(spark).collect()}
    assert snaps[1].refs is None  # branch gone after publish
    assert snaps[0].refs == "tag:gold"


# --- round-10 review-fix regressions ---------------------------------


def test_fresh_lineage_stage_is_not_dropped(spark, seeded):
    """A fresh checkpoint (new lineage, batch ids restart at 0)
    draining onto an existing branch must STAGE, not silently skip:
    the branch replay guard compares lineage AND batch id, mirroring
    process_batch's main-pointer guard."""
    sink = seeded
    sink.create_branch("audit")
    sink.stage_batch("audit", _batch(spark, [(1, "first", "u", 1)]), 5)
    # reopen the sink under a NEW checkpoint lineage; its batch ids
    # restart at 0 (below the branch's recorded batch 5)
    sink2 = SnapshotUpsertSink(
        sink.target_dir,
        keys=["k"],
        order_by=["seq"],
        n_buckets=4,
        lineage="ckpt2",
    )
    sink2.stage_batch("audit", _batch(spark, [(2, "fresh", "u", 2)]), 0)
    branch = _vals(sink2.table_at_ref(spark, "audit"))
    assert branch[1] == "first" and branch[2] == "fresh"
    # ... while a SAME-lineage replay of that batch id is still skipped
    head = sink2.refs()["branches"]["audit"]["snapshot"]
    sink2.stage_batch("audit", _batch(spark, [(2, "replay", "u", 3)]), 0)
    assert sink2.refs()["branches"]["audit"]["snapshot"] == head
    assert _vals(sink2.table_at_ref(spark, "audit"))[2] == "fresh"


def test_reservation_upgrade_fence_single_winner(spark, seeded):
    """Upgrading the lane reservation into a staged claim is fenced by
    an O_EXCL marker: a concurrent upgrader fails fast instead of
    interleaving data under the same v=N dir; the writer's OWN
    interrupted upgrade (marker content matches) completes
    idempotently; publish releases the marker with the claims."""
    sink = seeded
    sink.create_branch("audit")
    marker = sink._upgrade_marker_path(1)
    # a concurrent first staged writer holds the upgrade marker
    with open(marker, "w") as f:
        f.write("other-ckpt@wap:audit:0")
    with pytest.raises(ConcurrentCommitError, match="upgraded"):
        sink.stage_batch("audit", _batch(spark, [(1, "x", "u", 1)]), 1)
    # unchanged: reservation intact, nothing staged
    assert sink.refs()["branches"]["audit"]["snapshot"] == 0
    # our OWN interrupted upgrade (content matches what this writer
    # would fence with) completes idempotently
    with open(marker, "w") as f:
        f.write("@wap:audit:1")
    sink.stage_batch("audit", _batch(spark, [(1, "mine", "u", 1)]), 1)
    assert _vals(sink.table_at_ref(spark, "audit"))[1] == "mine"
    sink.publish_branch("audit")
    assert not os.path.exists(marker)
    assert _vals(sink.current_table(spark))[1] == "mine"


# --- multi-branch concurrent staging (round 10) -----------------------


def _bucket_of(spark, k, n=4):
    """Spark's key-hash bucket for key k — to build bucket-disjoint
    staged batches deterministically."""
    return spark.range(1).select(
        F.pmod(F.hash(F.lit(k).cast("long")), F.lit(n))
    ).collect()[0][0]


def test_two_branches_stage_and_publish_disjoint_buckets(spark, seeded):
    """Two branches stage CONCURRENTLY from the same base; each sees
    only its own staged state; main sees neither.  The first publish
    fast-forwards; the second lands via REBASE because its rewritten
    key-hash buckets are disjoint from the first's — final main is
    base + both branches' changes, and no staged data file moved."""
    sink = seeded
    buckets = {k: _bucket_of(spark, k) for k in range(10)}
    lo = [k for k in range(10) if buckets[k] in (0, 1)]
    hi = [k for k in range(10) if buckets[k] in (2, 3)]
    assert lo and hi, "need keys on both bucket halves"
    sink.create_branch("a")
    sink.create_branch("b")
    sink.stage_batch(
        "a", _batch(spark, [(k, f"A{k}", "u", 1) for k in lo]), 1
    )
    sink.stage_batch(
        "b", _batch(spark, [(k, f"B{k}", "u", 1) for k in hi]), 1
    )
    # isolation: each branch sees its own changes only; main sees none
    va = _vals(sink.table_at_ref(spark, "a"))
    vb = _vals(sink.table_at_ref(spark, "b"))
    assert all(va[k] == f"A{k}" for k in lo)
    assert all(va[k] == f"v{k}" for k in hi)
    assert all(vb[k] == f"B{k}" for k in hi)
    assert all(vb[k] == f"v{k}" for k in lo)
    assert _vals(sink.current_table(spark)) == {
        k: f"v{k}" for k in range(10)
    }
    # publish a: fast-forward (main still at the base)
    sink.publish_branch("a")
    got = _vals(sink.current_table(spark))
    assert all(got[k] == f"A{k}" for k in lo)
    # publish b: main moved, buckets disjoint → rebase (manifest-only)
    sink.publish_branch("b")
    got = _vals(sink.current_table(spark))
    assert all(got[k] == f"A{k}" for k in lo)
    assert all(got[k] == f"B{k}" for k in hi)
    assert not sink.refs()["branches"]
    # lane fully released: a fresh main batch commits
    sink.process_batch(_batch(spark, [(0, "post", "u", 9)]), 9)
    assert _vals(sink.current_table(spark))[0] == "post"


def test_two_branches_overlapping_buckets_conflict(spark, seeded):
    """Both branches rewrite the SAME key (same bucket): the second
    publish must raise instead of silently dropping either change;
    abort + restage from the new base resolves it."""
    sink = seeded
    sink.create_branch("a")
    sink.create_branch("b")
    sink.stage_batch("a", _batch(spark, [(3, "fromA", "u", 1)]), 1)
    sink.stage_batch("b", _batch(spark, [(3, "fromB", "u", 1)]), 1)
    sink.publish_branch("a")
    with pytest.raises(ConcurrentCommitError, match="also rewrote"):
        sink.publish_branch("b")
    # conflict resolution: abort, restage on the new base, publish
    sink.abort_branch("b")
    sink.create_branch("b2")
    sink.stage_batch("b2", _batch(spark, [(3, "fromB", "u", 2)]), 2)
    sink.publish_branch("b2")
    assert _vals(sink.current_table(spark))[3] == "fromB"


@pytest.mark.chaos
@pytest.mark.parametrize("seed", [11, 47])
def test_random_two_writer_wap_walk_matches_model(spark, seed):
    """TWO staged writers walk random interleavings of stage, publish,
    abort, and main commits, checked after every step against a pure
    model.  Publishes may fast-forward or rebase; bucket-overlap
    conflicts raise and must leave every lane's state unchanged; main
    commits may be frozen (reservation at main+1) or succeed once the
    lane unfroze — whichever happens, the observed tables must match
    the model's account of it."""
    import random

    rng = random.Random(seed)
    sink = _mk_sink()
    model_main: dict[int, str] = {}
    batch_id = 0
    # per-branch: base snapshot's model + one key-level delta PER STAGE
    # (so a prefix publish can apply exactly the published stages)
    branches: dict[str, dict] = {}

    def _merge(stages):
        out: dict[int, str] = {}
        for d in stages:
            out.update(d)
        return out

    def commit_main_attempt():
        nonlocal batch_id
        rows = []
        for _ in range(rng.randrange(1, 3)):
            k = rng.randrange(0, 12)
            rows.append((k, f"m{batch_id}k{k}", "u", batch_id))
        rows = list({r[0]: r for r in rows}.values())
        try:
            sink.process_batch(_batch(spark, rows), batch_id)
        except ConcurrentCommitError:
            return  # lane frozen: state must be unchanged
        for k, v, _, _ in rows:
            model_main[k] = v
        batch_id += 1

    sink.process_batch(
        _batch(spark, [(i, f"v{i}", "c", 0) for i in range(8)]), 0
    )
    model_main = {i: f"v{i}" for i in range(8)}
    batch_id = 1

    # 13 steps per seed (was 18): r11 wall-time budget trim, seeds kept
    for step in range(13):
        ops = ["main", "recover"]
        for name in ("x", "y"):
            if name in branches:
                ops += [f"stage:{name}", f"publish:{name}", f"abort:{name}"]
            else:
                ops += [f"open:{name}"]
        op = rng.choice(ops)
        if op == "main":
            commit_main_attempt()
        elif op == "recover":
            assert sink.recover_interrupted_commit() is None
        elif op.startswith("open:"):
            name = op[5:]
            sink.create_branch(name)
            branches[name] = {"base": dict(model_main), "stages": []}
        elif op.startswith("stage:"):
            name = op[6:]
            rows = []
            for _ in range(rng.randrange(1, 3)):
                k = rng.randrange(0, 12)
                rows.append((k, f"{name}{batch_id}k{k}", "u", batch_id))
            rows = list({r[0]: r for r in rows}.values())
            sink.stage_batch(name, _batch(spark, rows), batch_id)
            branches[name]["stages"].append(
                {k: v for k, v, _, _ in rows}
            )
            batch_id += 1
        elif op.startswith("publish:"):
            name = op[8:]
            st = branches[name]
            snaps = [
                int(x) for x in sink.refs()["branches"][name]["snaps"]
            ]
            if len(snaps) >= 2 and rng.random() < 0.4:
                # PREFIX publish: release the first j+1 audited stages
                j = rng.randrange(len(snaps) - 1)
                try:
                    sink.publish_branch(name, up_to=snaps[j])
                except ConcurrentCommitError:
                    pass  # main moved since the base: prefix refused
                else:
                    model_main.update(_merge(st["stages"][: j + 1]))
                    st["base"] = dict(model_main)
                    st["stages"] = st["stages"][j + 1 :]
            else:
                try:
                    sink.publish_branch(name)
                except ConcurrentCommitError:
                    pass  # bucket overlap with a concurrent commit
                else:
                    model_main.update(_merge(st["stages"]))
                    del branches[name]
        elif op.startswith("abort:"):
            name = op[6:]
            sink.abort_branch(name)
            del branches[name]
        # invariants after EVERY step
        assert _vals(sink.current_table(spark)) == model_main, op
        for name, st in branches.items():
            want = dict(st["base"])
            want.update(_merge(st["stages"]))
            assert _vals(sink.table_at_ref(spark, name)) == want, (
                f"{op}: branch {name} drifted"
            )


# --- torn-commit chaos: kill between manifest write and pointer move --


def _crash_pointer_once(sink):
    """Monkeypatch _publish_pointer to die on its next call — the
    torn-commit window between the durable manifest and the pointer
    rename that recovery must tolerate at every write site."""
    real = sink._publish_pointer

    def dying(*a, **kw):
        sink._publish_pointer = real
        raise RuntimeError("injected crash before pointer rename")

    sink._publish_pointer = dying
    return real


def test_torn_main_commit_rolls_forward(spark, seeded):
    """Main batch crash between manifest and pointer: the manifest is
    complete and durable, so recovery ROLLS FORWARD — the batch is
    committed exactly once, not lost and not doubled."""
    sink = seeded
    _crash_pointer_once(sink)
    with pytest.raises(RuntimeError, match="injected"):
        sink.process_batch(_batch(spark, [(3, "torn", "u", 1)]), 1)
    assert sink.committed_snapshot() == 0  # pointer never moved
    assert sink.recover_interrupted_commit() == "rolled_forward"
    assert sink.committed_snapshot() == 1
    got = _vals(sink.current_table(spark))
    assert got[3] == "torn" and got[0] == "v0"
    # the replay of the torn batch is skipped (exactly-once carried
    # through the manifest's recorded lineage/batch)
    sink.process_batch(_batch(spark, [(3, "replay", "u", 2)]), 1)
    assert _vals(sink.current_table(spark))[3] == "torn"


def test_torn_fastforward_publish_retries_cleanly(spark, seeded):
    """publish_branch (fast-forward arm) crash before the pointer
    rename: main is untouched, the branch is intact, and a retried
    publish completes with the exact staged state."""
    sink = seeded
    sink.create_branch("audit")
    sink.stage_batch("audit", _batch(spark, [(5, "staged", "u", 1)]), 1)
    _crash_pointer_once(sink)
    with pytest.raises(RuntimeError, match="injected"):
        sink.publish_branch("audit")
    assert sink.committed_snapshot() == 0
    assert _vals(sink.current_table(spark))[5] == "v5"
    assert "audit" in sink.refs()["branches"]
    sink.publish_branch("audit")  # retry
    assert _vals(sink.current_table(spark))[5] == "staged"
    assert not sink.refs()["branches"]


def test_torn_rebase_publish_retries_cleanly(spark, seeded):
    """Rebase-arm crash windows: (a) after the merged manifest is
    written but before the pointer rename — retry re-merges
    idempotently; the published table carries BOTH the concurrent
    main... (here: first branch) changes and the staged ones."""
    sink = seeded
    buckets = {k: _bucket_of(spark, k) for k in range(10)}
    lo = [k for k in range(10) if buckets[k] in (0, 1)]
    hi = [k for k in range(10) if buckets[k] in (2, 3)]
    sink.create_branch("a")
    sink.create_branch("b")
    sink.stage_batch("a", _batch(spark, [(k, f"A{k}", "u", 1) for k in lo]), 1)
    sink.stage_batch("b", _batch(spark, [(k, f"B{k}", "u", 1) for k in hi]), 1)
    sink.publish_branch("a")
    _crash_pointer_once(sink)
    with pytest.raises(RuntimeError, match="injected"):
        sink.publish_branch("b")  # rebase arm dies pre-pointer
    # main still shows only a's changes; b's branch is intact
    got = _vals(sink.current_table(spark))
    assert all(got[k] == f"A{k}" for k in lo)
    assert all(got[k] == f"v{k}" for k in hi)
    assert "b" in sink.refs()["branches"]
    sink.publish_branch("b")  # retry completes the rebase
    got = _vals(sink.current_table(spark))
    assert all(got[k] == f"A{k}" for k in lo)
    assert all(got[k] == f"B{k}" for k in hi)
    assert not sink.refs()["branches"]
    # recovery on the now-healthy table is a no-op
    assert sink.recover_interrupted_commit() is None


def test_torn_gc_commit_rolls_forward(spark, seeded):
    """Maintenance writers share the same commit protocol: a torn
    tombstone-GC commit (manifest durable, pointer not moved) must
    roll forward to a state-identical snapshot."""
    sink = seeded
    sink.process_batch(_batch(spark, [(1, "x", "d", 1)]), 1)
    before = _vals(sink.current_table(spark))  # key 1 deleted
    assert 1 not in before
    _crash_pointer_once(sink)
    with pytest.raises(RuntimeError, match="injected"):
        sink.gc_tombstones(spark, 100)
    assert sink.committed_snapshot() == 1
    assert sink.recover_interrupted_commit() == "rolled_forward"
    assert sink.committed_snapshot() == 2
    assert _vals(sink.current_table(spark)) == before


def test_abort_after_crashed_rebase_cleans_merge_manifest(spark, seeded):
    """A publish that crashed mid-rebase leaves an unpointed merged
    manifest; ABORTING the branch (instead of retrying) must remove it
    together with the staged data — otherwise recovery would roll the
    pointer forward onto deleted files."""
    import json as _json

    sink = seeded
    buckets = {k: _bucket_of(spark, k) for k in range(10)}
    lo = [k for k in range(10) if buckets[k] in (0, 1)]
    hi = [k for k in range(10) if buckets[k] in (2, 3)]
    sink.create_branch("a")
    sink.create_branch("b")
    sink.stage_batch("a", _batch(spark, [(k, f"A{k}", "u", 1) for k in lo]), 1)
    sink.stage_batch("b", _batch(spark, [(k, f"B{k}", "u", 1) for k in hi]), 1)
    sink.publish_branch("a")
    main_before = _vals(sink.current_table(spark))
    _crash_pointer_once(sink)
    with pytest.raises(RuntimeError, match="injected"):
        sink.publish_branch("b")
    sink.abort_branch("b")
    # no rebase-marked manifest survives anywhere
    for fn in os.listdir(sink.target_dir):
        if fn.startswith("_MANIFEST_") and fn.endswith(".json"):
            with open(os.path.join(sink.target_dir, fn)) as f:
                assert "rebase_of" not in _json.load(f), fn
    # recovery finds nothing to do and main is exactly pre-abort
    assert sink.recover_interrupted_commit() is None
    assert _vals(sink.current_table(spark)) == main_before
    # the lane is fully released: a fresh main batch commits
    sink.process_batch(_batch(spark, [(0, "post", "u", 9)]), 9)
    assert _vals(sink.current_table(spark))[0] == "post"


def test_change_feed_walks_committed_chain_past_staged_snapshots(
    spark, seeded
):
    """A fast-forward publish jumps the pointer past another branch's
    staged snapshot numbers: the change feed and the ledger must walk
    the committed chain by manifest parent links — a foreign branch's
    staged manifest must never be read as main history."""
    sink = seeded
    buckets = {k: _bucket_of(spark, k) for k in range(10)}
    lo = [k for k in range(10) if buckets[k] in (0, 1)]
    hi = [k for k in range(10) if buckets[k] in (2, 3)]
    ka1, ka2, kb = lo[0], lo[-1], hi[0]
    sink.create_branch("a")
    sink.create_branch("b")
    sink.stage_batch("a", _batch(spark, [(ka1, "A1", "u", 1)]), 1)  # v=1
    sink.stage_batch("b", _batch(spark, [(kb, "B5", "u", 1)]), 1)  # v=2
    sink.stage_batch("a", _batch(spark, [(ka2, "A2", "u", 2)]), 2)  # v=3
    sink.publish_branch("a")  # pointer 0 -> 3; v=2 is b's staged
    assert sink.committed_snapshot() == 3
    feed = sink.changes_between(spark, 0, 3).collect()
    changed = {(r.k, r.val) for r in feed}
    assert (ka1, "A1") in changed and (ka2, "A2") in changed
    assert all(k != kb for k, _ in changed), "staged rows leaked into feed"
    # a range base that is another branch's staged snapshot is refused
    with pytest.raises(ValueError, match="not an ancestor"):
        sink.changes_between(spark, 2, 3)
    # the ledger lists only committed-chain snapshots
    snaps = {r.snapshot for r in sink.ledger_table(spark).collect()}
    assert snaps == {0, 1, 3}
    # the rebase publish chains onto the new main head; its feed leg
    # is exactly the second branch's change set
    sink.publish_branch("b")
    cur = sink.committed_snapshot()
    feed2 = sink.changes_between(spark, 3, cur).collect()
    assert {(r.k, r.val) for r in feed2} == {(kb, "B5")}
    snaps = {r.snapshot for r in sink.ledger_table(spark).collect()}
    assert snaps == {0, 1, 3, cur}


# --- prefix (cherry-pick) publish -------------------------------------


def test_prefix_publish_then_continue_staging(spark, seeded):
    """publish_branch(up_to=...) releases an audited PREFIX of the
    staged chain to main while the suffix stays staged: readers see
    exactly the prefix, the branch keeps auditing, and the remainder
    publishes (or aborts) later."""
    sink = seeded
    sink.create_branch("audit")
    sink.stage_batch("audit", _batch(spark, [(1, "s1", "u", 1)]), 1)
    sink.stage_batch("audit", _batch(spark, [(2, "s2", "u", 2)]), 2)
    sink.stage_batch("audit", _batch(spark, [(3, "s3", "u", 3)]), 3)
    snaps = [int(s) for s in sink.refs()["branches"]["audit"]["snaps"]]
    mid = snaps[1]
    got = sink.publish_branch("audit", up_to=mid)
    assert got == mid == sink.committed_snapshot()
    main = _vals(sink.current_table(spark))
    assert main[1] == "s1" and main[2] == "s2" and main[3] == "v3"
    b = sink.refs()["branches"]["audit"]
    assert b["base"] == mid and b["snaps"] == [snaps[2]]
    # the suffix is still staged and visible on the branch
    assert _vals(sink.table_at_ref(spark, "audit"))[3] == "s3"
    # keep auditing: stage one more, then publish the remainder
    sink.stage_batch("audit", _batch(spark, [(4, "s4", "u", 4)]), 4)
    sink.publish_branch("audit")
    main = _vals(sink.current_table(spark))
    assert main[3] == "s3" and main[4] == "s4"
    assert not sink.refs()["branches"]
    # feed across the whole publish sequence is exactly the changes
    feed = sink.changes_between(spark, 0, sink.committed_snapshot())
    assert {(r.k, r.val) for r in feed.collect()} == {
        (1, "s1"), (2, "s2"), (3, "s3"), (4, "s4"),
    }


def test_prefix_publish_crash_replay_and_abort_guard(spark, seeded):
    """Crash between the prefix pointer move and the ref update: a
    full publish must refuse (it would silently drop the suffix);
    replaying the SAME prefix publish finishes the ref update; abort
    of the remainder then leaves exactly the prefix on main."""
    sink = seeded
    sink.create_branch("audit")
    sink.stage_batch("audit", _batch(spark, [(1, "s1", "u", 1)]), 1)
    sink.stage_batch("audit", _batch(spark, [(2, "s2", "u", 2)]), 2)
    snaps = [int(s) for s in sink.refs()["branches"]["audit"]["snaps"]]
    first = snaps[0]
    # simulate the crash: pointer moved, ref NOT updated
    m = sink._read_manifest(first)
    sink._publish_pointer(
        m.get("committed_lineage") or None, m["committed_batch"], first
    )
    with pytest.raises(ConcurrentCommitError, match="prefix publish"):
        sink.publish_branch("audit")  # full publish refuses
    assert sink.publish_branch("audit", up_to=first) == first  # replay
    b = sink.refs()["branches"]["audit"]
    assert b["base"] == first and b["snaps"] == [snaps[1]]
    sink.abort_branch("audit")
    main = _vals(sink.current_table(spark))
    assert main[1] == "s1" and main[2] == "v2"
    # lane free again
    sink.process_batch(_batch(spark, [(9, "post", "c", 9)]), 9)
    assert _vals(sink.current_table(spark))[9] == "post"


def test_two_streams_drain_into_two_branches(spark, tmp_path):
    """Two Structured Streaming drains land in two CONCURRENT branches
    of the same table (separate sink handles + checkpoints, the
    multi-process posture): both stage invisibly, the first publish
    fast-forwards, the second rebases or conflict-restages — main ends
    with both drains' changes exactly once."""
    from lakehouse_cdc_spark.streaming import staged_cdc_pipeline

    target = tempfile.mkdtemp(prefix="wap_2s_")

    def handle():
        return SnapshotUpsertSink(
            target, keys=["k"], order_by=["seq"], n_buckets=4
        )

    seed = handle()
    seed.process_batch(
        _batch(spark, [(i, f"v{i}", "c", 0) for i in range(6)]), 0
    )
    seed.create_branch("x")
    seed.create_branch("y")
    schema = "k long, val string, operation string, seq long"
    for name, rows in (
        ("x", [(1, "X1", "u", 1), (70, "X70", "c", 1)]),
        ("y", [(2, "Y2", "u", 1), (80, "Y80", "c", 1)]),
    ):
        src = tmp_path / f"src_{name}"
        _batch(spark, rows).write.mode("overwrite").parquet(str(src))
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = staged_cdc_pipeline(
            stream, handle(), name, str(tmp_path / f"ckpt_{name}")
        )
        q.awaitTermination(120)
    reader = handle()
    assert reader.committed_snapshot() == 0  # both invisible
    bx = _vals(reader.table_at_ref(spark, "x"))
    by = _vals(reader.table_at_ref(spark, "y"))
    assert bx[1] == "X1" and bx[70] == "X70" and 80 not in bx
    assert by[2] == "Y2" and by[80] == "Y80" and 70 not in by
    reader.publish_branch("x")
    try:
        reader.publish_branch("y")
    except ConcurrentCommitError:
        # bucket overlap with x's published rewrite: restage on new base
        reader.abort_branch("y")
        reader.create_branch("y")
        reader.stage_batch(
            "y", _batch(spark, [(2, "Y2", "u", 2), (80, "Y80", "c", 2)]), 0
        )
        reader.publish_branch("y")
    main = _vals(reader.current_table(spark))
    assert main[1] == "X1" and main[70] == "X70"
    assert main[2] == "Y2" and main[80] == "Y80"
    assert not reader.refs()["branches"]


def test_rollback_refuses_with_live_branch_and_below_tags(spark, seeded):
    """rollback_to deletes manifests/claims above the target, so it
    must refuse while a staged branch lives (its chain and lane fence
    would be destroyed under a live ref) AND while a tag pins a
    snapshot above the target: the main lane reuses snapshot numbers
    after a rollback, so the next process_batch would re-claim the
    tagged number and silently repoint the tag at new data."""
    sink = seeded
    sink.create_branch("audit")
    with pytest.raises(ValueError, match="publish or abort"):
        sink.rollback_to(0)
    sink.abort_branch("audit")
    sink.process_batch(_batch(spark, [(1, "b1", "u", 1)]), 1)
    sink.create_tag("keep")  # pins snapshot 1
    sink.process_batch(_batch(spark, [(2, "b2", "u", 2)]), 2)
    # tag above the target: refused, nothing changed
    with pytest.raises(ValueError, match="delete_tag first"):
        sink.rollback_to(0)
    assert sink.committed_snapshot() == 2
    assert sink._read_manifest(2) is not None
    # rollback TO the tagged snapshot (tag not below target): allowed,
    # tag still resolves to its pinned history
    sink.rollback_to(1)
    assert sink.committed_snapshot() == 1
    assert _vals(sink.table_at_ref(spark, "keep"))[1] == "b1"
    # with the tag deleted the deeper rollback proceeds, and the lane
    # can re-advance onto the formerly tagged number safely
    sink.delete_tag("keep")
    sink.rollback_to(0)
    assert sink.committed_snapshot() == 0
    assert _vals(sink.current_table(spark))[1] == "v1"
    assert sink._read_manifest(1) is None
    sink.process_batch(_batch(spark, [(1, "new1", "u", 3)]), 3)
    assert sink.committed_snapshot() == 1
    assert _vals(sink.current_table(spark))[1] == "new1"


def test_rollback_below_tag_would_have_repointed_it(spark, seeded):
    """The exact silent-corruption scenario the tag guard closes: with
    a tag at snapshot 1, rolling back to 0 and committing two fresh
    batches would re-claim number 1 and os.replace its manifest — the
    tag would resolve to the NEW timeline.  The guard makes the caller
    delete the tag first, so a tag can never silently change data."""
    sink = seeded
    sink.process_batch(_batch(spark, [(5, "pinned", "u", 1)]), 1)
    sink.create_tag("audit2026")  # pins snapshot 1 (k5 == "pinned")
    with pytest.raises(ValueError, match="tagged snapshot"):
        sink.rollback_to(0)
    # the pinned view is intact and still serves the pinned data
    assert _vals(sink.table_at_ref(spark, "audit2026"))[5] == "pinned"


def test_sigkill_between_manifest_and_pointer_rolls_forward(
    spark, tmp_path
):
    """REAL process death (SIGKILL — no interpreter cleanup, no atexit,
    no exception unwinding) in the torn-commit window between manifest
    write and pointer rename: a fresh process recovers the table to
    the committed batch exactly once."""
    import subprocess
    import sys

    target = str(tmp_path / "tbl")
    script = f"""
import os, signal, sys
sys.path.insert(0, {REPO!r})
from lakehouse_cdc_spark.session import get_spark
from lakehouse_cdc_spark.streaming import SnapshotUpsertSink

spark = get_spark("kill-child")
spark.sparkContext.setLogLevel("ERROR")
sink = SnapshotUpsertSink({target!r}, keys=["k"], order_by=["seq"], n_buckets=2)

def batch(rows):
    return spark.createDataFrame(rows, "k long, val string, operation string, seq long")

sink.process_batch(batch([(1, "a", "c", 0), (2, "b", "c", 0)]), 0)
# arm the kill INSIDE the commit protocol: manifest durable, pointer not
real = sink._publish_pointer
def dying(*a, **kw):
    os.kill(os.getpid(), signal.SIGKILL)
sink._publish_pointer = dying
sink.process_batch(batch([(1, "torn", "u", 1)]), 1)
print("UNREACHABLE")
"""
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=300,
    )
    assert proc.returncode == -9, proc.stderr[-800:]
    assert "UNREACHABLE" not in proc.stdout
    # fresh handle in THIS process: pointer still at snapshot 0
    sink = SnapshotUpsertSink(
        target, keys=["k"], order_by=["seq"], n_buckets=2
    )
    assert sink.committed_snapshot() == 0
    assert sink.recover_interrupted_commit() == "rolled_forward"
    assert sink.committed_snapshot() == 1
    got = _vals(sink.current_table(spark))
    assert got[1] == "torn" and got[2] == "b"
    # the killed batch replays as a no-op (exactly-once)
    sink.process_batch(
        _batch(spark, [(1, "replay", "u", 2)]), 1
    )
    assert _vals(sink.current_table(spark))[1] == "torn"


def test_concurrent_refs_updates_lose_nothing(spark, seeded):
    """_REFS.json updates are whole-document replaces; without the
    refs lock, concurrent read-modify-writes lose one writer's update
    — and a lost 'snaps' entry later makes publish/abort treat that
    recorded staged snapshot as a crashed stage and DELETE its data.
    Hammer the document from many threads and assert every update
    survived."""
    import threading

    sink = seeded
    errs = []

    def tagger(i):
        try:
            sink.create_tag(f"t{i}", 0)
        except Exception as e:  # pragma: no cover - failure surface
            errs.append(e)

    threads = [threading.Thread(target=tagger, args=(i,)) for i in range(16)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    tags = sink.refs()["tags"]
    assert {f"t{i}" for i in range(16)} <= set(tags)
    # branches created concurrently with tag churn: all present, all
    # with DISTINCT lane reservations (allocation is serialized by the
    # same lock)
    errs.clear()

    def brancher(i):
        try:
            sink.create_branch(f"b{i}")
        except Exception as e:
            errs.append(e)

    def tag_churn(i):
        try:
            sink.create_tag(f"c{i}", 0)
        except Exception as e:
            errs.append(e)

    threads = [
        threading.Thread(target=brancher, args=(i,)) for i in range(4)
    ] + [threading.Thread(target=tag_churn, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    refs = sink.refs()
    assert {f"b{i}" for i in range(4)} <= set(refs["branches"])
    assert {f"c{i}" for i in range(8)} <= set(refs["tags"])
    reserved = [refs["branches"][f"b{i}"]["reserved"] for i in range(4)]
    assert len(set(reserved)) == 4
    for i in range(4):
        sink.abort_branch(f"b{i}")


def test_abort_refuses_when_main_on_bucketless_staged_snapshot(
    spark, seeded
):
    """A staged commit that rewrote NO buckets (empty batch) has no
    self-referencing manifest entries, so abort_branch's
    bucket-intersection guard alone would let it delete the committed
    pointer's manifest after a prefix publish crashed before its ref
    update.  The cur-in-snaps guard must refuse."""
    sink = seeded
    sink.create_branch("audit")
    # staged snapshot 1: EMPTY batch — manifest buckets all point at 0
    sink.stage_batch("audit", _batch(spark, []), 1)
    snaps = sink.refs()["branches"]["audit"]["snaps"]
    assert snaps == [1]
    m1 = sink._read_manifest(1)
    assert 1 not in {int(s) for s in m1["buckets"].values()}
    # staged snapshot 2 with data, so 1 is MID-CHAIN (cur != head)
    sink.stage_batch("audit", _batch(spark, [(1, "s2", "u", 2)]), 2)
    # simulate a prefix publish of snapshot 1 that crashed before its
    # ref update: pointer moved, branch ref still records [1, 2]
    sink._publish_pointer(
        m1.get("committed_lineage") or None, m1["committed_batch"], 1
    )
    with pytest.raises(ValueError, match="staged snapshot 1"):
        sink.abort_branch("audit")
    # the committed manifest and the guard's suggested path both work
    assert sink._read_manifest(1) is not None
    sink.publish_branch("audit", up_to=1)
    assert sink.abort_branch("audit") == 1  # drops only the suffix
    assert sink.committed_snapshot() == 1
    assert _vals(sink.current_table(spark))[1] == "v1"


def test_recover_sweeps_dead_staged_claim_at_high_lane(spark, seeded):
    """A staged writer that dies holding a HIGHER-numbered claim (not
    committed+1) used to be invisible to recover_interrupted_commit,
    blocking other branches' allocation at that number forever.  The
    claim sweep must roll back the unrecorded stage and free the
    lane."""
    sink = seeded
    sink.create_branch("a")
    sink.stage_batch("a", _batch(spark, [(1, "a1", "u", 1)]), 1)
    # second stage at lane 2 dies between manifest and ref update:
    # stage it for real, then rewind the ref record by hand
    sink.stage_batch("a", _batch(spark, [(2, "a2", "u", 2)]), 2)
    refs = sink.refs()
    refs["branches"]["a"]["snapshot"] = 1
    refs["branches"]["a"]["snaps"] = [1]
    refs["branches"]["a"]["batch"] = 1
    sink._write_refs(refs)
    assert os.path.exists(sink._claim_path(2))
    # committed+1 == 1 is a RECORDED staged snapshot (left alone), but
    # the sweep must still find and resolve the dead claim at 2
    assert sink.recover_interrupted_commit() == "rolled_back"
    assert not os.path.exists(sink._claim_path(2))
    assert not os.path.isdir(sink._snapshot_path(2))
    assert sink._read_manifest(2) is None
    # the recorded stage is untouched and the branch keeps working
    assert _vals(sink.table_at_ref(spark, "a"))[1] == "a1"
    sink.stage_batch("a", _batch(spark, [(3, "a3", "u", 3)]), 3)
    sink.publish_branch("a")
    got = _vals(sink.current_table(spark))
    assert got[1] == "a1" and got[3] == "a3" and got[2] == "v2"


def test_recover_sweeps_spent_main_fence_below_pointer(spark, seeded):
    """A crash between _publish_pointer and _release_claim leaves a
    spent claim at the COMMITTED snapshot; the sweep drops it (the
    fence did its job) without touching anything else."""
    sink = seeded
    sink.process_batch(_batch(spark, [(1, "b1", "u", 1)]), 1)
    # recreate the spent fence by hand
    with open(sink._claim_path(1), "w") as f:
        f.write(f"{sink.lineage or ''}:1")
    assert sink.recover_interrupted_commit() == "rolled_back"
    assert not os.path.exists(sink._claim_path(1))
    assert sink.committed_snapshot() == 1
    assert _vals(sink.current_table(spark))[1] == "b1"


@pytest.mark.chaos
def test_multiprocess_concurrent_staging_and_kill(spark, tmp_path):
    """REAL OS-level concurrency on the WAP surface: two separate
    processes (own JVMs, no shared Python state) create branches and
    stage onto the SAME sink concurrently — rendezvous-synchronized so
    the stages genuinely overlap — while a third process is SIGKILLed
    inside the staged-commit window (manifest durable, ref update
    never ran).  Asserts the O_EXCL claim/upgrade fences and the
    flock'd refs document hold under true parallelism: both live
    branches publish, the dead stage is swept by recovery, no torn
    refs or leftover claims, and the final table matches the model."""
    import json
    import subprocess
    import sys
    import time

    target = str(tmp_path / "tbl")
    sync = str(tmp_path / "sync")
    os.makedirs(sync)
    sink = _mk_sink()
    # use a fixed dir instead of _mk_sink's tempdir so children share it
    sink = type(sink)(target, keys=["k"], order_by=["seq"], n_buckets=4)
    sink.process_batch(
        _batch(spark, [(i, f"v{i}", "c", 0) for i in range(12)]), 0
    )

    def child_script(name, lo, kill):
        return f"""
import os, signal, sys, time
sys.path.insert(0, {REPO!r})
from lakehouse_cdc_spark.session import get_spark
from lakehouse_cdc_spark.streaming import SnapshotUpsertSink
from lakehouse_cdc_spark.streaming.pipeline import ConcurrentCommitError

spark = get_spark("wap-child-{name}")
spark.sparkContext.setLogLevel("ERROR")
sink = SnapshotUpsertSink({target!r}, keys=["k"], order_by=["seq"], n_buckets=4)

def batch(rows):
    return spark.createDataFrame(rows, "k long, val string, operation string, seq long")

open({sync!r} + "/ready_{name}", "w").close()
while not os.path.exists({sync!r} + "/go"):
    time.sleep(0.05)

sink.create_branch("{name}")
if {kill}:
    # die INSIDE the staged-commit window: claim upgraded, data and
    # manifest durable, ref update never runs
    real = sink._refs_update
    def dying(*a, **kw):
        os.kill(os.getpid(), signal.SIGKILL)
    sink._refs_update = dying
    sink.stage_batch("{name}", batch([({lo}, "dead", "u", 1)]), 1)
    print("UNREACHABLE")
    sys.exit(3)
sink.stage_batch("{name}", batch([({lo}, "s{name}1", "u", 1)]), 1)
sink.stage_batch("{name}", batch([({lo} + 1, "s{name}2", "u", 2)]), 2)
for attempt in range(6):
    try:
        sink.publish_branch("{name}")
        break
    except ConcurrentCommitError:
        # optimistic-concurrency loser: restage on the new base
        sink.abort_branch("{name}")
        sink.create_branch("{name}")
        sink.stage_batch("{name}", batch([({lo}, "s{name}1", "u", 3 + 2 * attempt)]), 3 + 2 * attempt)
        sink.stage_batch("{name}", batch([({lo} + 1, "s{name}2", "u", 4 + 2 * attempt)]), 4 + 2 * attempt)
else:
    sys.exit(4)
print("PUBLISHED")
"""

    procs = {
        name: subprocess.Popen(
            [sys.executable, "-c", child_script(name, lo, kill)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for name, lo, kill in (("wa", 0, False), ("wb", 4, False), ("wc", 8, True))
    }
    deadline = time.time() + 240
    while time.time() < deadline and not all(
        os.path.exists(os.path.join(sync, f"ready_{n}")) for n in procs
    ):
        time.sleep(0.1)
    open(os.path.join(sync, "go"), "w").close()
    outs = {n: p.communicate(timeout=300) for n, p in procs.items()}
    assert procs["wa"].returncode == 0, outs["wa"][1][-800:]
    assert procs["wb"].returncode == 0, outs["wb"][1][-800:]
    assert "PUBLISHED" in outs["wa"][0] and "PUBLISHED" in outs["wb"][0]
    assert procs["wc"].returncode == -9  # really died mid-commit
    assert "UNREACHABLE" not in outs["wc"][0]

    # fresh handle: the dead stage is an unrecorded claim; recovery
    # sweeps it, abort drops the dead branch's ref + reservation
    sink = type(sink)(target, keys=["k"], order_by=["seq"], n_buckets=4)
    sink.recover_interrupted_commit()
    assert "wc" in sink.refs()["branches"]
    sink.abort_branch("wc")
    refs = sink.refs()
    assert refs["branches"] == {}
    # no torn refs document (json loads cleanly via refs()) and no
    # leftover claim fences
    assert not [
        f for f in os.listdir(target) if ".claim" in f
    ], os.listdir(target)
    # final state: both published branches' updates landed exactly
    # once; the dead branch's update never surfaced
    got = _vals(sink.current_table(spark))
    assert got[0] == "swa1" and got[1] == "swa2"
    assert got[4] == "swb1" and got[5] == "swb2"
    assert got[8] == "v8" and got[9] == "v9"
    for i in (2, 3, 6, 7, 10, 11):
        assert got[i] == f"v{i}"
    # the committed chain replays cleanly end to end
    assert sink.committed_snapshot() is not None
    assert sink.changes_between(spark, 0, sink.committed_snapshot()) is not None


def test_same_branch_concurrent_stager_raises_not_forks(spark, seeded):
    """Two concurrent writers on the SAME branch must conflict, not
    silently stage divergent diffs against one head: when the lane
    allocator collides with a claim owned by OUR OWN branch, stage
    raises instead of probing past it (probing is only correct for a
    cross-branch collision)."""
    sink = seeded
    sink.create_branch("audit")
    sink.stage_batch("audit", _batch(spark, [(1, "s1", "u", 1)]), 1)
    # a concurrent second writer of THIS branch holds the next lane
    # (its ref update hasn't landed): simulate its durable claim
    nxt = sink._next_lane_number(sink.refs())
    with open(sink._claim_path(nxt), "w") as f:
        f.write("@wap:audit:77")
    with pytest.raises(ConcurrentCommitError, match="concurrent staged"):
        sink.stage_batch("audit", _batch(spark, [(2, "s2", "u", 2)]), 2)
    os.unlink(sink._claim_path(nxt))
    # with the foreign claim gone the branch stages normally again
    sink.stage_batch("audit", _batch(spark, [(2, "s2", "u", 2)]), 2)
    assert _vals(sink.table_at_ref(spark, "audit"))[2] == "s2"


def test_branch_claim_rejects_number_main_already_committed(spark, seeded):
    """The recycled-claim race: a racing main writer claims, commits,
    and RELEASES snapshot N between a branch's lane allocation and its
    O_EXCL create — the branch claim must re-verify against the MAIN
    pointer and refuse, or the first stage would overwrite committed
    data files."""
    sink = seeded
    sink.process_batch(_batch(spark, [(1, "m1", "u", 1)]), 1)
    assert sink.committed_snapshot() == 1  # claim for 1 released

    # simulate the stale allocation: a branch that computed reserved=1
    # while the pointer was still at 0
    def _insert(refs):
        refs["branches"]["b"] = {
            "base": 0,
            "snapshot": 0,
            "batch": None,
            "snaps": [],
            "reserved": 1,
        }

    sink._refs_update(_insert)
    with pytest.raises(ConcurrentCommitError, match="stale base"):
        sink._claim(1, None, branch="b", expected_head=0)
    # the refused claim must not leave a fence behind
    assert not os.path.exists(sink._claim_path(1))
    # committed data untouched
    assert _vals(sink.current_table(spark))[1] == "m1"
    sink._refs_update(lambda refs: refs["branches"].pop("b", None))
