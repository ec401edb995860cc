"""The CDC ingest pipeline: decode → classify → compact → upsert,
driven by ``foreachBatch`` with an idempotent snapshot-commit sink.

Exactly-once design (replaces SURVEY T3/T4/T5):

- The reference persists Kafka offsets + a processed-batch ledger in
  Iceberg tables inside a (parse-invalid) ``START TRANSACTION`` block
  (spark_exactly_once.py:343-397,426).  Spark already provides the
  two halves natively: the streaming **checkpoint** makes micro-batch
  replay deterministic (same batchId → same data), and a
  **batchId-guarded idempotent sink** makes replay harmless.  Data
  files are written first, the version pointer is committed last —
  the same write-ahead/commit-pointer protocol an Iceberg snapshot
  commit uses, so a crash between the two leaves the old version
  intact.

Merge semantics: the sink keeps per-key state as *latest change row
including delete tombstones*, merged by union + window compaction
(one hash shuffle per batch, no join).  Because the order is event
time (+ sequence tie-breaker), the result is last-write-wins under
ANY batch split — out-of-order delivery across micro-batches cannot
resurrect overwritten rows, and tombstones stop late updates from
reviving deleted keys.  The reference's join-MERGE (kept as
``cdc/apply.py:apply_changes`` for S9 parity) silently loses both
properties when batches arrive out of order.

In production the snapshot write is an Iceberg ``MERGE INTO`` /
``writeTo`` commit (delta file writes instead of full-state rewrite);
:class:`SnapshotUpsertSink` is the catalog-free equivalent for tests
and plain-parquet deployments.  State is hash-BUCKETED by key: a
micro-batch reads and rewrites ONLY the buckets its keys touch, and a
per-snapshot manifest maps every bucket to the snapshot directory
holding its current data (the same file-reuse trick an Iceberg
manifest plays) — so per-batch write cost is O(touched buckets ×
bucket size), not O(total state), and untouched bucket files are
byte-identical across commits.
"""

from __future__ import annotations

import base64
import contextlib
import copy
import json
import os
import re
import shutil
import threading
import time
import weakref

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from lakehouse_cdc_spark.operators.dedup import (
    latest_per_key,
    latest_per_key_bucketed,
)
from lakehouse_cdc_spark.streaming import store

# importable from here too: perfbench reads manifests through it
from lakehouse_cdc_spark.streaming.store import manifest_path

# Re-entrant, refcounted AQE suppression.  The session conf is GLOBAL,
# and two streaming queries' foreachBatch bodies run on separate
# threads of the same session — a naive save/set/restore races: writer
# B can read writer A's "false" as the value to restore and wedge AQE
# off for the whole session.  Depth-0 entry records the true original;
# only the LAST exit restores it.  State is keyed by a WEAK reference
# to the session itself, never id(): a new session can reuse a
# garbage-collected session's id and would inherit its stale state.
_AQE_LOCK = threading.Lock()
_AQE_STATE: "weakref.WeakKeyDictionary[SparkSession, list]" = (
    weakref.WeakKeyDictionary()
)  # session -> [depth, original conf value]


@contextlib.contextmanager
def _aqe_disabled(spark: SparkSession):
    """Disable AQE for the sink's fixed-shape jobs (explicitly
    partitioned plans — per-stage re-optimization only adds driver
    latency), safely under concurrent writers on one session."""
    with _AQE_LOCK:
        st = _AQE_STATE.get(spark)
        if st is None:
            st = _AQE_STATE[spark] = [
                0,
                spark.conf.get("spark.sql.adaptive.enabled"),
            ]
        # bump the depth BEFORE mutating the conf so a failing set
        # can roll back cleanly instead of leaking a stale orig entry
        st[0] += 1
        if st[0] == 1:
            try:
                spark.conf.set("spark.sql.adaptive.enabled", "false")
            except Exception:
                st[0] -= 1
                if st[0] == 0:
                    _AQE_STATE.pop(spark, None)
                raise
    try:
        yield
    finally:
        with _AQE_LOCK:
            st = _AQE_STATE.get(spark)
            if st is not None:
                st[0] -= 1
                if st[0] == 0:
                    _AQE_STATE.pop(spark, None)
                    spark.conf.set("spark.sql.adaptive.enabled", st[1])


def with_retry(fn, attempts: int = 3, base_backoff_s: float = 2.0, sleep=time.sleep):
    """Exponential-backoff retry (T6, spark_batch.py:284-295 /
    spark_exactly_once.py:523-537: ≤3 attempts, 2^n seconds)."""

    def wrapped(*args, **kwargs):
        last = None
        for attempt in range(attempts):
            try:
                return fn(*args, **kwargs)
            except Exception as e:  # noqa: BLE001
                last = e
                if attempt < attempts - 1:
                    sleep(base_backoff_s**attempt)
        raise last

    return wrapped


class ConcurrentCommitError(RuntimeError):
    """Another writer holds the claim for the snapshot this commit
    targets.  The losing writer has written NOTHING under the claimed
    snapshot — re-read ``committed()`` and retry on the new base, or
    run ``recover_interrupted_commit()`` if the claim is from a
    crashed writer (claim present, pointer never advanced, no writer
    live)."""


class SnapshotUpsertSink:
    """Idempotent CDC upsert sink over versioned, key-bucketed parquet
    snapshots.

    The on-disk layout (pointer, per-snapshot manifests, refs, claim
    fences, bucket and delta dirs, quarantine lane) is defined by
    :mod:`lakehouse_cdc_spark.streaming.store`; this class reads and
    writes it only through that module.

    ``process_batch`` is safe to call twice with the same ``batch_id``
    (T4's processed-batches ledger, spark_exactly_once.py:292-341,
    collapses into "snapshot already committed").
    """

    def __init__(
        self,
        target_dir: str,
        keys: list[str],
        order_by: list[str | Column],
        op_col: str = "operation",
        lineage: str | None = None,
        n_buckets: int | None = None,
        merge_on_read: bool = False,
        fold_deltas_every: int | None = 8,
        bloom_cols: list[str] | None = None,
        bloom_bits: int = 8192,
        bloom_hashes: int = 3,
        checks: dict[str, str] | None = None,
        check_mode: str = "quarantine",
        zone_cols: list[str] | None = None,
        sort_within_bucket: list[str] | None = None,
    ):
        self.target_dir = target_dir
        self.keys = keys
        self.order_by = order_by
        self.op_col = op_col
        #: merge-on-read ingest (Hudi MOR / Iceberg merge-on-read
        #: parity): process_batch appends the raw change batch as a
        #: DELTA file set (zero shuffle, no base read — one tiny write
        #: job per micro-batch) and readers compact base+deltas on the
        #: fly; every ``fold_deltas_every`` commits the deltas are
        #: folded into the bucketed base through the copy-on-write
        #: merge.  Choose MOR for ingest-heavy tables (commit cost ~
        #: O(batch)), COW (default) for read-heavy ones (reads stay
        #: pre-compacted).
        self.merge_on_read = merge_on_read
        self.fold_deltas_every = fold_deltas_every
        #: identity of the checkpoint driving this sink.  The replay
        #: guard compares batch ids ONLY within the same lineage — a
        #: deleted/recreated checkpoint restarts batch numbering at 0,
        #: and without the lineage check those fresh batches would be
        #: silently discarded as "already committed".
        self.lineage = lineage
        #: bucket count for NEW state (an existing target's manifest
        #: wins — key→bucket mapping is fixed at first commit).  None
        #: (the default) sizes it to the data: new state starts at one
        #: bucket, and after each main-line copy-on-write commit whose
        #: largest rewritten bucket outgrows one read split
        #: (``spark.sql.files.maxPartitionBytes``) the table doubles
        #: through ``rebucket`` — one bucket per task stays one split
        #: per task.  An explicit count is fixed: nothing grows it but
        #: a hand-called ``rebucket``.
        self.sized_to_data = n_buckets is None
        self.n_buckets = 1 if n_buckets is None else n_buckets
        #: per-bucket bloom filters over NON-key columns (key point
        #: lookups already hash straight to their bucket): when set,
        #: every bucket rewrite computes a ``bloom_bits``-bit filter
        #: per column via ``observe()`` aggregates RIDING the write job
        #: (no extra pass) and stores it base64 in the manifest;
        #: ``lookup(spark, col, value)`` then reads only the buckets
        #: whose filter may contain the value.  Values are hashed via
        #: CAST(col AS STRING) so int32/int64 schema widening never
        #: shifts the hash.  Sizing: manifest grows by
        #: bits/8 x n_buckets x |cols| bytes (1 KiB x 16 x |cols| at
        #: the default bits and 16 buckets).
        self.bloom_cols = list(bloom_cols) if bloom_cols else None
        self.bloom_bits = bloom_bits
        self.bloom_hashes = bloom_hashes
        #: CHECK constraints — {name: SQL boolean expression} enforced
        #: on every NON-DELETE batch row at write time (a lakehouse
        #: table has no unique/check indexes; the honest alternatives
        #: are enforce-on-write or audit-after, and audit-after ships
        #: the corruption first).  ``check_mode``:
        #:   "quarantine" (default) — violating rows divert to the
        #:     ``_quarantine/`` parquet lane (queryable via
        #:     :meth:`quarantine_table`, tagged with the failing check
        #:     + batch id) and the CLEAN remainder commits — the
        #:     poison-row posture of cdc/decode.py's DLQ: one bad row
        #:     must not fail a 100 TB ingest.  The lane is
        #:     at-least-once (a crash between the lane write and the
        #:     commit replays the batch and re-appends) — dedup on
        #:     read by (__check, __batch, key) where exactness
        #:     matters, exactly like any DLQ topic.
        #:   "fail" — raise with a per-check census, commit nothing
        #:     (dev/CI posture).
        #: Deletes bypass checks: a tombstone legitimately carries
        #: NULL payload columns.  checks=None costs zero extra jobs.
        if check_mode not in ("quarantine", "fail"):
            raise ValueError(f"check_mode must be quarantine|fail, got {check_mode!r}")
        self.checks = dict(checks) if checks else None
        self.check_mode = check_mode
        #: per-bucket RANGE zone maps ([min, max] per column) — the
        #: range-predicate complement of the point-lookup blooms: every
        #: bucket rewrite folds min/max for these columns out of the
        #: freshly written parquet FOOTERS (pyarrow metadata walk — no
        #: data re-read, no extra Spark job) into the manifest, and
        #: ``lookup_range(col, lo, hi)`` then opens only overlapping
        #: buckets.  v1 supports integer and string columns; float
        #: columns are refused (parquet NaN row-group stats are the
        #: PARQUET-1222 silent-drop class the cdclog writer already
        #: guards against), timestamps belong in an integer epoch
        #: column.  Every bucket rewrite (merge, GC, compaction,
        #: rebucket) rebuilds the zones and blooms of the buckets it
        #: writes.
        self.zone_cols = list(zone_cols) if zone_cols else None
        #: sort rows by these columns WITHIN each bucket before the
        #: parquet write (Iceberg sort-order / Delta OPTIMIZE ZORDER's
        #: 1-D case): the bucket-level zone is unchanged, but the
        #: ROW-GROUP-level min/max stats inside each file become tight
        #: and disjoint, so Spark's own pushed range predicates skip
        #: row groups a reader never decodes — and runs of similar
        #: values compress better.  Cost: a per-partition local sort
        #: riding the existing bucket-aligned exchange (no new
        #: shuffle — sortWithinPartitions preserves the partitioning).
        self.sort_within_bucket = (
            list(sort_within_bucket) if sort_within_bucket else None
        )
        os.makedirs(target_dir, exist_ok=True)

    # -- snapshot bookkeeping -------------------------------------------
    #
    # Snapshot numbers are monotone and INDEPENDENT of batch ids: a
    # replayed batch under a new checkpoint lineage reads snapshot S and
    # writes snapshot S+1 — never the same path (Spark cannot overwrite
    # a path it is reading from).
    def committed(self) -> tuple[str | None, int | None, int | None]:
        """(lineage, batch_id, snapshot) of the committed state."""
        return store.read_pointer(self.target_dir)

    def committed_version(self) -> int | None:
        """Batch id of the last committed micro-batch."""
        return self.committed()[1]

    def committed_snapshot(self) -> int | None:
        """Snapshot number the pointer currently commits."""
        return self.committed()[2]

    def _snapshot_path(self, snapshot: int) -> str:
        return store.snapshot_path(self.target_dir, snapshot)

    def _bucket_path(self, snapshot: int, bucket: int) -> str:
        return store.bucket_path(self.target_dir, snapshot, bucket)

    def _delta_path(self, snapshot: int) -> str:
        return store.delta_path(self.target_dir, snapshot)

    def _manifest_path(self, snapshot: int) -> str:
        return manifest_path(self.target_dir, snapshot)

    def _claim_path(self, snapshot: int) -> str:
        return store.claim_path(self.target_dir, snapshot)

    def _upgrade_marker_path(self, snapshot: int) -> str:
        """O_EXCL fence for upgrading a lane RESERVATION into a staged
        batch's claim: the reservation rewrite is a read-then-rewrite
        of an existing file, so without this marker two concurrent
        first ``stage_batch`` calls could both observe the reservation
        and interleave data under the same snapshot dir.  Exactly one
        upgrader can create the marker; it lives as long as the claim
        and is released with it."""
        return store.upgrade_marker_path(self.target_dir, snapshot)

    def _release_claim(self, snapshot: int) -> None:
        """Unlink a claim file and any upgrade marker riding it."""
        for p in (
            self._claim_path(snapshot),
            self._upgrade_marker_path(snapshot),
        ):
            with contextlib.suppress(FileNotFoundError):
                os.unlink(p)

    def _discard_snapshot(self, snapshot: int) -> None:
        """Delete a snapshot's data dir and manifest (never called on
        the committed chain)."""
        shutil.rmtree(self._snapshot_path(snapshot), ignore_errors=True)
        with contextlib.suppress(FileNotFoundError):
            os.unlink(self._manifest_path(snapshot))

    @staticmethod
    def _validate_ref_name(name: str, kind: str) -> None:
        """Reject ref names the string-encoded claim protocol cannot
        represent unambiguously.  Claim owners are
        ``<lineage>@wap:<branch>:<batch>`` parsed with
        ``rpartition(':')`` / ``rpartition('@wap:')`` and suffix
        checks like ``owner.endswith(f"@wap:{branch}")`` — a ref name
        containing ``:`` (which covers ``@wap:``) would misparse the
        owner/batch split and could make publish-time collision
        detection misclassify a cross-branch collision as a
        same-branch double-writer (or vice versa)."""
        if not name:
            raise ValueError(f"{kind} name must be non-empty")
        if ":" in name:
            raise ValueError(
                f"{kind} name {name!r} may not contain ':' — ref names "
                "are embedded in ':'-delimited claim-owner strings"
            )
        if "/" in name or name in (".", ".."):
            raise ValueError(f"{kind} name {name!r} is not a valid name")

    def _claim_owner(self, branch: str | None) -> str:
        """Claim-file owner string: the checkpoint lineage, plus a
        ``@wap:<branch>`` marker for staged (write-audit-publish)
        commits so recovery can tell a deliberately-unpublished
        snapshot from a writer that died mid-commit."""
        return f"{self.lineage or ''}" + (f"@wap:{branch}" if branch else "")

    def _claim(
        self,
        new_snap: int,
        batch_id: int | None,
        branch: str | None = None,
        expected_head: int | None = None,
    ) -> None:
        """CAS-style writer fence: exclusively create snapshot N's claim
        file BEFORE any snapshot data is written.  Exactly one writer can
        claim a snapshot number, so two writers that both read base
        snapshot N-1 can never interleave data files under the same
        ``v=N`` directory — the loser fails here, having written
        nothing, and the winner's manifest chain is untouched.

        After taking the claim the base is RE-VERIFIED: a writer whose
        base went stale while it was planning (the fast writer claimed
        N, committed, and RELEASED the claim) would otherwise re-create
        the recycled claim file and overwrite the just-committed
        snapshot's data before _commit's pointer check could object.
        Once we hold the claim the check is race-free — advancing the
        pointer to N requires holding this same claim."""
        try:
            fd = os.open(
                self._claim_path(new_snap), os.O_CREAT | os.O_EXCL | os.O_WRONLY
            )
        except FileExistsError:
            owner, owner_batch = store.read_claim(
                self.target_dir, new_snap
            ) or (None, None)
            ours = f"{'' if batch_id is None else batch_id}"
            if (
                branch is not None
                and owner == f"@wap:{branch}"
                and owner_batch == ""
                and batch_id is not None
            ):
                # the branch's own lane RESERVATION (taken by
                # create_branch so an empty branch still freezes the
                # snapshot lane): upgrade it to this staged batch's
                # claim.  The rewrite is fenced by an O_EXCL upgrade
                # marker — without it two concurrent first stage_batch
                # calls could both observe the reservation, both
                # "upgrade", and interleave data under the same v=N
                # dir (the exact multi-writer race the claim file
                # exists to prevent).  Only one marker creator wins;
                # the marker is released together with the claim.
                mine = f"{self._claim_owner(branch)}:{ours}"
                marker = self._upgrade_marker_path(new_snap)
                try:
                    mfd = os.open(
                        marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                    )
                except FileExistsError:
                    try:
                        with open(marker) as f:
                            holder = f.read()
                    except FileNotFoundError:
                        holder = None
                    if holder != mine:
                        raise ConcurrentCommitError(
                            f"snapshot {new_snap} reservation of "
                            f"{self.target_dir} is being upgraded by a "
                            "concurrent staged writer; re-read the "
                            "branch head and retry"
                        ) from None
                    # our own interrupted upgrade (crash between marker
                    # and claim rewrite, or a replay of it): finishing
                    # the rewrite is idempotent — same content
                else:
                    with os.fdopen(mfd, "w") as f:
                        f.write(mine)
                with open(self._claim_path(new_snap), "w") as f:
                    f.write(mine)
                return
            if (
                owner is not None
                and owner == self._claim_owner(branch)
                and owner_batch == ours
            ):
                # our own interrupted attempt: same lineage AND same
                # batch id — a crash-replay of this exact write (a
                # checkpoint lineage has one live writer per batch, and
                # maintenance calls carry batch_id=None so a concurrent
                # gc/compact on the same sink object can never alias a
                # live stream batch's claim).  Retaking the fence is
                # safe: the replayed batch deterministically rewrites
                # the same snapshot.
                return
            raise ConcurrentCommitError(
                f"snapshot {new_snap} of {self.target_dir} is claimed by "
                "another writer; re-read committed() and retry on the new "
                "base.  If that writer died: recover_interrupted_commit() "
                "resolves dead main commits and unrecorded staged claims; "
                "a RECORDED staged snapshot needs publish_branch/"
                "abort_branch of its owning branch"
            ) from None
        with os.fdopen(fd, "w") as f:
            # a lane RESERVATION (branch set, no batch) is written
            # lineage-free: it may be upgraded/released by a writer
            # whose checkpoint lineage differs from the creator's
            owner_str = (
                f"@wap:{branch}"
                if branch is not None and batch_id is None
                else self._claim_owner(branch)
            )
            f.write(f"{owner_str}:{'' if batch_id is None else batch_id}")
        if branch is None:
            cur = self.committed_snapshot()
            base_ok = (cur is None and new_snap == 0) or cur == new_snap - 1
        else:
            # a staged commit's base is the BRANCH head, not the main
            # pointer (which stays put until publish).  Staged numbers
            # interleave across branches, so contiguity with the head
            # is NOT required — what must still hold is that the head
            # this writer merged from is still the head (per-branch
            # single-writer sequencing), and that the number is new
            # BOTH against the branch head AND against the main
            # pointer: a racing main writer that claimed, committed,
            # and RELEASED this number between our allocation and our
            # O_EXCL create would otherwise hand us a recycled claim
            # on a COMMITTED snapshot, and the first stage's
            # overwrite-mode write would trample its data files.
            cur = (self.refs()["branches"].get(branch) or {}).get("snapshot")
            cur_main = self.committed_snapshot()
            base_ok = (
                cur == expected_head
                and (expected_head is None or new_snap > expected_head)
                and (cur_main is None or new_snap > cur_main)
            )
        if not base_ok:
            self._release_claim(new_snap)
            where = (
                f"pointer at {cur}"
                if branch is None
                else f"branch head at {cur}, main pointer at "
                f"{self.committed_snapshot()}"
            )
            raise ConcurrentCommitError(
                f"stale base: snapshot {new_snap} was already committed "
                f"({where}) while this writer was planning; "
                "re-read committed() and retry on the new base"
            )

    def recover_interrupted_commit(self) -> str | None:
        """Resolve a claim left by a writer that died mid-commit (ONLY
        call when no writer is live — the claim cannot distinguish
        crashed from slow).  Two cases, both idempotent:

        - claim + manifest exist but the pointer never advanced: the
          data and manifest are complete (the manifest is written after
          the data), so ROLL FORWARD — publish the pointer from the
          manifest's own recorded lineage/batch.
        - claim exists with no manifest: the data write never finished;
          ROLL BACK — delete the orphan snapshot dir and the claim.

        Staged (write-audit-publish) claims live at ARBITRARY
        interleaved lane numbers, not just committed+1 — a staged
        writer that died holding a higher-numbered claim would block
        other branches' allocation at that number forever — so EVERY
        claim file is scanned, not only the main candidate.

        Returns "rolled_forward", "rolled_back", or None (nothing to
        recover)."""
        cur = self.committed_snapshot()
        cand = (cur if cur is not None else -1) + 1
        primary = None
        if os.path.exists(self._claim_path(cand)):
            claim_owner = (store.read_claim(self.target_dir, cand) or ("",))[0]
            if "@wap:" in claim_owner:
                primary = (
                    "rolled_back"
                    if self._recover_wap_claim(cand, claim_owner)
                    else None
                )
            else:
                manifest = self._read_manifest(cand)
                if manifest is not None and "committed_batch" in manifest:
                    self._publish_pointer(
                        manifest.get("committed_lineage") or None,
                        manifest["committed_batch"],
                        cand,
                    )
                    self._release_claim(cand)
                    primary = "rolled_forward"
                else:
                    self._discard_snapshot(cand)
                    self._release_claim(cand)
                    primary = "rolled_back"
            if primary == "rolled_forward":
                # the pointer moved: re-read it so the sweep below
                # classifies spent fences against the NEW head
                cur = self.committed_snapshot()
        # sweep the remaining claim files
        swept = False
        for snap in store.list_claims(self.target_dir):
            claim = store.read_claim(self.target_dir, snap)
            if snap == cand or claim is None:
                continue
            owner = claim[0]
            if "@wap:" in owner:
                swept = self._recover_wap_claim(snap, owner) or swept
            elif cur is not None and snap <= cur:
                # spent main/maintenance fence: the pointer already
                # moved past it (crash between _publish_pointer and
                # _release_claim) — the fence did its job, drop it
                self._release_claim(snap)
                swept = True
            # a non-wap claim ABOVE the candidate cannot arise from
            # this protocol (main writers only ever claim committed+1);
            # leave anything unrecognized alone rather than guess
        if primary is not None:
            return primary
        return "rolled_back" if swept else None

    def _recover_wap_claim(self, snap: int, owner: str) -> bool:
        """Resolve one dead staged (``@wap``) claim.  Three cases:

        - the branch ref RECORDS the snapshot: live unpublished branch
          — leave it alone;
        - the branch lives and the claim is its lane RESERVATION
          (possibly upgraded by a first stage that died between
          manifest and ref update): roll back any unrecorded data but
          KEEP the claim — the reservation is what protects the lane
          while the branch lives;
        - the branch lives but the claim is an UNRECORDED later stage,
          or the branch is gone: full cleanup (data, manifest, claim) —
          a dead unrecorded stage must not block other branches'
          allocation at that number.

        Returns True iff anything was cleaned up."""
        branch = owner.rpartition("@wap:")[2]
        b = self.refs()["branches"].get(branch)
        if b is not None and snap in {int(s) for s in (b.get("snaps") or [])}:
            return False
        had_debris = os.path.isdir(
            self._snapshot_path(snap)
        ) or os.path.exists(self._manifest_path(snap))
        self._discard_snapshot(snap)
        if b is not None and int(b.get("reserved") or -1) == snap:
            with open(self._claim_path(snap), "w") as f:
                f.write(f"@wap:{branch}:")
            try:
                # a dead upgrader's marker must not fence the next
                # stage off the freshly rolled-back reservation
                os.unlink(self._upgrade_marker_path(snap))
            except FileNotFoundError:
                pass
            return had_debris
        self._release_claim(snap)
        return True

    def _publish_pointer(self, lineage, batch_id, new_snap: int) -> None:
        store.write_pointer(self.target_dir, lineage, batch_id, new_snap)

    #: manifest fields a commit inherits from the manifest it builds on
    #: unless the caller overrides them:
    #: - n_buckets / buckets — the bucket map: bucket -> snapshot dir
    #:   holding its current files;
    #: - gc_watermark — the late-data floor (ISO string for datetimes;
    #:   process_batch compares it via Spark's string→timestamp cast);
    #: - schema — the union schema of the committed state, so base
    #:   buckets read with an EXPLICIT schema (no mergeSchema
    #:   footer-merge job); absent on legacy targets and after type
    #:   conflicts, which stay on mergeSchema;
    #: - deltas — merge-on-read snapshots whose delta dirs hold raw
    #:   change batches not yet folded into the buckets;
    #: - blooms — per-bucket bloom filters ({"bits", "hashes",
    #:   "cols": {col: {bucket: b64}}}) pruning point lookups;
    #: - zones — per-bucket [min, max] zone maps ({col: {bucket:
    #:   [lo, hi]}}) pruning range lookups.
    _CARRIED = (
        "n_buckets", "buckets", "gc_watermark", "schema", "deltas",
        "blooms", "zones",
    )

    def _commit(
        self,
        new_snap: int,
        prev: dict,
        batch_id: int,
        branch: str | None = None,
        **changes,
    ) -> None:
        """The snapshot commit protocol and the ONLY manifest writer:
        manifest first, pointer last, both atomically — a crash between
        the two leaves the previous commit fully intact (and is rolled
        forward by ``recover_interrupted_commit``, since the manifest
        records the committing lineage/batch).  Callers hold the
        ``_claim`` fence for ``new_snap``, so the pointer can only move
        forward.

        The new manifest is ``prev``'s ``_CARRIED`` fields plus the
        commit record (``committed_lineage`` = this sink's lineage,
        ``committed_batch``, ``parent``), overridden by ``changes`` —
        the only fields a caller passes are the ones its commit
        changes.  An override of None (or an empty deltas / blooms /
        zones value) drops the field.  The pointer takes the manifest's
        own commit record."""
        manifest = {k: prev[k] for k in self._CARRIED if k in prev}
        manifest["committed_lineage"] = self.lineage or ""
        manifest["committed_batch"] = batch_id
        # PARENT link: snapshot numbers interleave across concurrently
        # staged branches, so the committed chain is no longer the
        # integer sequence — chain walkers (change feed, ledger) follow
        # parents instead.  Main commits always target committed+1;
        # staged commits chain on the branch head they merged from.
        if branch is None:
            parent = new_snap - 1 if new_snap > 0 else None
        else:
            parent = (self.refs()["branches"].get(branch) or {}).get("snapshot")
        manifest["parent"] = None if parent is None else int(parent)
        manifest.update(changes)
        manifest = {
            k: v
            for k, v in manifest.items()
            if k in ("n_buckets", "buckets", "committed_lineage", "committed_batch")
            or v not in (None, [], {})
        }
        if "gc_watermark" in manifest:
            manifest["gc_watermark"] = _iso_watermark(manifest["gc_watermark"])
        # fence FIRST: if another writer already advanced the pointer,
        # fail before touching the manifest — replacing it afterwards
        # would leave the committed pointer describing the loser's map.
        # Staged (branch) commits skip this check: their numbers
        # interleave with other branches', so a concurrent publish can
        # legitimately move the main pointer past a staged number —
        # the claim + expected-head verification already fenced them.
        if branch is None:
            cur_snap = self.committed_snapshot()
            if cur_snap is not None and cur_snap >= new_snap:
                raise RuntimeError(
                    f"commit fence violated: pointer already at "
                    f"{cur_snap}, refusing to move it back to {new_snap}"
                )
        store.write_manifest(self.target_dir, new_snap, manifest)
        if branch is not None:
            # write-audit-publish: the snapshot is complete and durable
            # but INVISIBLE to main readers — advance the branch ref,
            # not the pointer.  The claim file is deliberately retained:
            # it reserves the snapshot-number lane against main writers
            # until publish_branch / abort_branch releases it.
            def _advance(refs):
                if branch not in refs["branches"]:
                    raise RuntimeError(
                        f"staged commit for unknown branch {branch!r}"
                    )
                b = refs["branches"][branch]
                b["snapshot"] = new_snap
                b["batch"] = batch_id
                b["snaps"] = sorted(set(b.get("snaps") or []) | {new_snap})
                # record the STAGING LINEAGE alongside the batch id:
                # the branch replay guard (stage_batch) must skip only
                # replays of the same checkpoint lineage, exactly like
                # the main pointer's guard — a fresh checkpoint
                # draining onto this branch restarts batch ids at 0
                # and must not be dropped
                b["lineage"] = self.lineage or ""

            self._refs_update(_advance)
            return
        self._publish_pointer(
            manifest["committed_lineage"] or None,
            manifest["committed_batch"],
            new_snap,
        )
        self._release_claim(new_snap)  # no-op for a pre-claim-era caller

    def _read_manifest(self, snapshot: int | None) -> dict | None:
        if snapshot is None:
            return None
        return store.read_manifest(self.target_dir, snapshot)

    def _bucket_col(self, n_buckets: int) -> Column:
        # pmod handles hash()'s negative values (incl. MIN_INT, where
        # abs() would overflow)
        return F.pmod(F.hash(*[F.col(k) for k in self.keys]), F.lit(n_buckets))

    def _state_reader(self, spark: SparkSession, stored_schema: str | None):
        """Reader for committed state files: the manifest-carried union
        schema when tracked (missing columns null-fill, no footer-merge
        job), mergeSchema otherwise (legacy / post-type-conflict)."""
        if stored_schema is not None:
            from pyspark.sql import types as T

            return spark.read.schema(
                T.StructType.fromJson(json.loads(stored_schema))
            )
        return spark.read.option("mergeSchema", "true")

    def state_at(self, spark: SparkSession, snapshot: int) -> DataFrame | None:
        """Time travel: full state as of any snapshot whose manifest is
        still retained (Iceberg ``VERSION AS OF`` parity).  Raises if
        the snapshot's manifest (or a bucket dir it references) was
        expired."""
        manifest = self._read_manifest(snapshot)
        if manifest is None:
            # a bare snapshot dir is an uncommitted/crashed attempt (or
            # a pointer rolled onto one) — reading it would return
            # partial, never-committed state
            raise ValueError(
                f"snapshot {snapshot} has no manifest (expired, never "
                "committed, or a crashed writer's data); run "
                "recover_interrupted_commit() or roll back to a "
                "manifest-bearing snapshot"
            )
        deltas = manifest.get("deltas") or []
        if not manifest["buckets"] and not deltas:
            return None
        paths = [
            self._bucket_path(at_snap, int(b))
            for b, at_snap in manifest["buckets"].items()
        ] + [self._delta_path(s) for s in deltas]
        missing = [p for p in paths if not os.path.isdir(p)]
        if missing:
            raise ValueError(
                f"snapshot {snapshot} references expired data dirs: {missing}"
            )
        # manifest-tracked union schema when available; else mergeSchema
        # (buckets evolve independently — a batch adding a column only
        # rewrites ITS buckets, so the state schema is the union of all
        # live bucket schemas, footer-only cost)
        df = self._state_reader(spark, manifest.get("schema")).parquet(*paths)
        if deltas:
            # merge-on-read: deltas hold raw (uncompacted) change rows —
            # compact the union so the contract (one row per key) holds
            # (the read cost MOR trades for its O(batch) ingest commits)
            df = latest_per_key(df, self.keys, self.order_by)
        return df

    def _order_struct(self):
        return F.struct(
            *[
                F.col(c) if isinstance(c, str) else c
                for c in self.order_by
            ]
        )

    #: COW diff legs per changes_between plan: each COW commit needs
    #: its own rewritten-vs-previous join, so plan size is linear in
    #: the number of COW commits replayed.  Beyond this budget the
    #: Catalyst plan (and the per-leg scheduling overhead) dominates —
    #: callers chunk instead, which is lossless because the feed is
    #: additive over ranges: changes(a,c) == changes(a,b) ∪ changes(b,c).
    MAX_COW_DIFFS = 64

    def _chain(self, from_snap: int, to_snap: int) -> list:
        """COMMITTED-CHAIN snapshots in ``(from_snap, to_snap]`` as
        ``[(snapshot, manifest), ...]`` ascending, walked by manifest
        ``parent`` links — with concurrently staged branches the chain
        is no longer the integer sequence (a fast-forward publish can
        jump the pointer past another branch's staged numbers, and
        those staged manifests must never be read as main history).
        Pre-multi-branch manifests without a parent field fall back to
        ``s-1`` (their layout was contiguous by construction)."""
        chain = []
        s = to_snap
        while s > from_snap:
            m = self._read_manifest(s)
            if m is None:
                raise ValueError(
                    f"snapshot {s} has no retained manifest — the "
                    "change feed for this range is no longer replayable"
                )
            chain.append((s, m))
            p = m.get("parent")
            s = int(p) if p is not None else s - 1
        if s != from_snap:
            raise ValueError(
                f"snapshot {from_snap} is not an ancestor of {to_snap} "
                "on the committed chain (it may be another branch's "
                "staged snapshot); feed ranges must follow the chain"
            )
        chain.reverse()
        return chain

    def changes_between(
        self, spark: SparkSession, from_snap: int, to_snap: int
    ) -> DataFrame | None:
        """CHANGE DATA FEED (Delta CDF / Iceberg changelog parity):
        every change row committed in snapshots ``(from_snap,
        to_snap]``, with the sink's own op column as the change type
        ('c'/'u'/'d' — the source already stamps it) plus a
        ``_change_snapshot`` column.  The downstream-consumer surface
        a CDC lakehouse needs: incremental pipelines read the feed,
        never re-scan the table.

        Per-commit cost, by commit kind:
        - MOR delta commit — the ``__delta`` dir IS the change batch;
          read it back verbatim (O(batch), no diff work);
        - COW merge — diff ONLY the rewritten buckets against the
          previous snapshot's versions of those buckets: a row is a
          change iff its key is new or its order-by advanced (struct
          comparison), so cost is O(rewritten buckets), never O(table);
        - fold_deltas — skipped: the folded rows were already emitted
          by their delta commits (detected as deltas draining with no
          new delta dir);
        - compaction — rewrites identical rows (no order advance) ⇒
          the diff is naturally empty;
        - tombstone GC — only REMOVES expired delete markers, which
          were emitted as 'd' changes when they happened ⇒ nothing new.

        PLAN-SIZE model (a months-long replay must not build a
        thousand-leg union): consecutive MOR delta commits sharing a
        schema are read as ONE multi-path parquet scan — their
        ``_change_snapshot`` is recovered from the file path
        (``…/v=<s>/__delta/…``) instead of a per-commit literal — so
        the union has one leg per delta RUN, not per delta commit (a
        steady-state MOR ingest replay is a single leg).  COW commits
        irreducibly need one diff join each; more than
        ``MAX_COW_DIFFS`` of them in one range raises with chunking
        guidance rather than silently building a degenerate plan.
        Manifest reads stay one per snapshot (each is read once and
        carried).
        """
        legs: list[DataFrame] = []
        delta_run: list[tuple[int, str | None]] = []  # (snap, schema_json)
        n_cow = 0

        def _flush_delta_run():
            # one scan per run of consecutive delta commits: stamp the
            # snapshot from the file path, not a per-leg literal
            if not delta_run:
                return
            reader = self._state_reader(spark, delta_run[0][1])
            legs.append(
                reader.parquet(
                    *[self._delta_path(s) for s, _ in delta_run]
                ).withColumn(
                    "_change_snapshot",
                    F.regexp_extract(
                        F.col("_metadata.file_path"),
                        store.DELTA_FILE_SNAPSHOT_RE,
                        1,
                    ).cast("int"),
                )
            )
            delta_run.clear()
        # the RANGE BASE manifest must be retained too (from_snap < 0
        # means "since empty" by contract): an expired base would make
        # prev_buckets empty and the first diff silently degrade to
        # "everything is new" — a corrupted feed, not a refused one
        prev = self._read_manifest(from_snap) if from_snap >= 0 else None
        if from_snap >= 0 and prev is None:
            raise ValueError(
                f"snapshot {from_snap} (the range base) has no retained "
                "manifest — the change feed for this range is no longer "
                "replayable"
            )
        for s, manifest in self._chain(from_snap, to_snap):
            # the chain walk already read each manifest once; carry the
            # previous iteration's instead of re-reading from disk
            prev_m, prev = prev, manifest
            deltas = manifest.get("deltas") or []
            prev_deltas = (prev_m or {}).get("deltas") or []
            if deltas and deltas[-1] == s:
                # MOR delta commit: extend the current run (schema
                # changes break the run — one scan needs one schema)
                schema = manifest.get("schema")
                if delta_run and delta_run[0][1] != schema:
                    _flush_delta_run()
                delta_run.append((s, schema))
                continue
            elif prev_deltas and not deltas:
                # fold commit: rows already emitted by delta commits
                continue
            else:
                # changed buckets = entries that differ from the chain
                # PARENT's (not `at == s`): a normal COW commit rewrites
                # its buckets under s, but a REBASE publish grafts
                # buckets that still point at the branch's staged
                # snapshot numbers — both are changes this commit made
                # visible on main
                prev_entries = (prev_m or {}).get("buckets") or {}
                rewritten = [
                    int(b)
                    for b, at in manifest["buckets"].items()
                    if prev_entries.get(b) != at
                ]
                if not rewritten:
                    continue  # watermark-only / empty commit
                _flush_delta_run()  # keep legs in commit order
                n_cow += 1
                if n_cow > self.MAX_COW_DIFFS:
                    raise ValueError(
                        f"changes_between({from_snap}, {to_snap}) needs "
                        f"more than MAX_COW_DIFFS={self.MAX_COW_DIFFS} "
                        "copy-on-write diff joins in one plan — replay "
                        "the range in chunks instead (the feed is "
                        "additive: changes(a,c) == changes(a,b) ∪ "
                        "changes(b,c))"
                    )
                reader = self._state_reader(spark, manifest.get("schema"))
                new_state = reader.parquet(
                    *[
                        self._bucket_path(
                            int(manifest["buckets"][str(b)]), b
                        )
                        for b in rewritten
                    ]
                )
                prev_buckets = (prev_m or {}).get("buckets") or {}
                if prev_m is not None and prev_m.get(
                    "n_buckets"
                ) != manifest.get("n_buckets"):
                    # partition evolution (rebucket): bucket ids changed
                    # meaning, so the same-id pairing below would treat
                    # relocated rows as new — diff against the ENTIRE
                    # previous state.  Rows are identical across a
                    # rebucket, so the feed stays empty; the one-commit
                    # O(table) diff cost mirrors the rebucket itself.
                    old_paths = [
                        self._bucket_path(at, int(b))
                        for b, at in prev_buckets.items()
                    ]
                else:
                    old_paths = [
                        self._bucket_path(prev_buckets[str(b)], b)
                        for b in rewritten
                        if str(b) in prev_buckets
                    ]
                if not old_paths:
                    batch = new_state  # first commit: everything is new
                else:
                    old = (
                        self._state_reader(
                            spark, (prev_m or {}).get("schema")
                        )
                        .parquet(*old_paths)
                        .select(
                            *[F.col(k).alias(f"__ok_{i}")
                              for i, k in enumerate(self.keys)],
                            self._order_struct().alias("__old_ord"),
                        )
                    )
                    # eqNullSafe: the sink treats NULL keys as one
                    # valid key (bucket hash + window partition both
                    # group NULLs) — a plain == would never match a
                    # NULL-keyed row's old version and re-emit it as a
                    # phantom change on every rewrite of its bucket
                    cond = None
                    for i, k in enumerate(self.keys):
                        c = new_state[k].eqNullSafe(F.col(f"__ok_{i}"))
                        cond = c if cond is None else (cond & c)
                    batch = (
                        new_state.join(old, cond, "left")
                        .filter(
                            F.col("__old_ord").isNull()
                            | (self._order_struct() > F.col("__old_ord"))
                        )
                        .drop(
                            "__old_ord",
                            *[f"__ok_{i}" for i in range(len(self.keys))],
                        )
                    )
            legs.append(batch.withColumn("_change_snapshot", F.lit(s)))
        _flush_delta_run()
        out = None
        for leg in legs:
            out = leg if out is None else out.unionByName(
                leg, allowMissingColumns=True
            )
        return out

    def rollback_to(self, snapshot: int) -> None:
        """Move the commit pointer back to a retained snapshot
        (Iceberg ``rollback_to_snapshot`` parity).  The rolled-back
        state must still be fully readable; later snapshots become
        expire_snapshots fodder.  Batch-id numbering is preserved so
        the replay guard keeps rejecting already-seen batches."""
        manifest = self._read_manifest(snapshot)
        if manifest is None:
            if not os.path.isdir(self._snapshot_path(snapshot)):
                raise ValueError(f"cannot roll back to unknown snapshot {snapshot}")
            # a bare v=N dir is a crashed writer's uncommitted attempt —
            # rolling the pointer onto it would make current_state serve
            # partial state
            raise ValueError(
                f"cannot roll back to snapshot {snapshot}: no manifest "
                "(uncommitted/crashed writer data, not a committed snapshot)"
            )
        for b, at_snap in manifest["buckets"].items():
            if not os.path.isdir(self._bucket_path(at_snap, int(b))):
                raise ValueError(
                    f"snapshot {snapshot} is not fully retained "
                    f"(bucket {b} expired)"
                )
        for s in manifest.get("deltas") or []:
            if not os.path.isdir(self._delta_path(s)):
                raise ValueError(
                    f"snapshot {snapshot} is not fully retained "
                    f"(delta {s} expired)"
                )
        cur_lineage, committed_batch, cur_snap = self.committed()
        if cur_snap is None:
            # no committed pointer: there is nothing to roll back FROM,
            # and writing a pointer with a non-integer batch field
            # would corrupt the chain permanently
            raise ValueError(
                "cannot roll back: target has no committed pointer"
            )
        ref_doc = self.refs()
        if ref_doc["branches"]:
            # the cleanup below deletes manifests and claims above the
            # target — a live staged branch's chain AND its lane fence
            # would be destroyed while its ref still advertises it
            raise ValueError(
                "cannot roll back while write-audit-publish branches "
                f"are staged ({sorted(ref_doc['branches'])}); publish "
                "or abort them first"
            )
        tags_above = sorted(
            (n, int(s))
            for n, s in ref_doc["tags"].items()
            if int(s) > snapshot
        )
        if tags_above:
            # a tag pins a snapshot NUMBER, and the main lane reuses
            # numbers after a rollback: the cleanup below deletes the
            # claim at the tagged number, so a later process_batch
            # would re-claim it, overwrite the v=N bucket dirs, and
            # os.replace the tagged manifest — the tag would silently
            # resolve to the NEW timeline's data.  Refuse (mirroring
            # the live-branch guard): the caller must delete_tag first,
            # making the loss of the pinned history explicit.
            raise ValueError(
                f"cannot roll back to snapshot {snapshot} below "
                f"tagged snapshot(s) {tags_above}: the main lane would "
                "re-advance onto the tagged number and silently repoint "
                "the tag at new data; delete_tag first"
            )
        # preserve the POINTER's lineage (a maintenance sink rolling
        # back a stream's target must not hijack its replay guard) and
        # reuse the one pointer writer so format/fsync stay in one place
        self._publish_pointer(cur_lineage, committed_batch, snapshot)
        # later snapshots are now rolled back: drop their manifests and
        # any stale claim so recover_interrupted_commit cannot re-roll
        # them forward and fresh writers aren't wedged by dead claims
        # (tags above the target were refused above, so nothing here
        # can be tag-pinned)
        for s in store.list_manifests(self.target_dir):
            if s > snapshot:
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(self._manifest_path(s))
        for s in set(store.list_claims(self.target_dir)) | set(
            store.list_upgrade_markers(self.target_dir)
        ):
            if s > snapshot:
                self._release_claim(s)

    # -- named refs: tags + write-audit-publish branches -------------------
    #
    # Iceberg/Nessie-style refs (public designs: Iceberg branching &
    # tagging spec, the WAP pattern Netflix published for Iceberg):
    # a TAG pins a snapshot immutably (audit/repro anchor, expiry
    # root); a BRANCH is a movable head for the write-audit-publish
    # flow — stage_batch commits full snapshots that main readers
    # cannot see, audits run against the branch head, and
    # publish_branch fast-forwards the main pointer in one atomic
    # rename.  The reference has no equivalent (its sink publishes
    # every write immediately, spark_exactly_once.py); this is the
    # staging discipline a 100 TB ingest needs so a bad batch is
    # auditable before anyone reads it.

    def refs(self) -> dict:
        """Named refs document: ``{"tags": {name: snapshot},
        "branches": {name: {"base": int, "snapshot": int (head),
        "batch": int|None, "lineage": str, "snaps": [int] (staged
        snapshot numbers, ascending — interleaved across branches),
        "reserved": int (the lane number create_branch claimed)}},
        "cursors": {name: acked_snapshot (a registered FeedCursor's
        retention floor — expiry keeps every snapshot ≥ it)},
        "cursors_meta": {name: last_ack_epoch_seconds (observability
        only — lets maintenance.retention_report age an abandoned
        cursor; never read by retention decisions)}}``."""
        return store.read_refs(self.target_dir)

    def _write_refs(self, doc: dict) -> None:
        store.write_refs(self.target_dir, doc)

    def _refs_update(self, mutate):
        """Apply ``mutate(doc)`` to the refs document atomically under
        the refs lock: re-READ inside the critical section (never trust
        a copy read before the lock), mutate, write.  ``mutate`` may
        raise to abort — nothing is written.  Returns ``mutate``'s
        return value.  The lock (:func:`store.refs_lock`) is a kernel
        flock, so a killed writer never wedges the table."""
        with store.refs_lock(self.target_dir):
            doc = self.refs()
            result = mutate(doc)
            self._write_refs(doc)
            return result

    def create_tag(self, name: str, snapshot: int | None = None) -> int:
        """Pin ``snapshot`` (default: the committed one) under an
        immutable name.  A tagged snapshot never expires
        (maintenance.expire_snapshots keeps every ref root and its
        manifest closure).  Idempotent on the same snapshot; retagging
        a different one raises — tags are immutable by contract."""
        self._validate_ref_name(name, "tag")
        snap = self.committed_snapshot() if snapshot is None else snapshot
        if snap is None or self._read_manifest(snap) is None:
            raise ValueError(f"cannot tag snapshot {snap}: no manifest")

        def _set(refs):
            existing = refs["tags"].get(name)
            if existing is not None and existing != snap:
                raise ValueError(
                    f"tag {name!r} already pins snapshot {existing}; "
                    "tags are immutable (delete_tag first)"
                )
            refs["tags"][name] = snap

        self._refs_update(_set)
        return snap

    def delete_tag(self, name: str) -> None:
        def _drop(refs):
            if name not in refs["tags"]:
                raise KeyError(f"unknown tag {name!r}")
            del refs["tags"][name]

        self._refs_update(_drop)

    def resolve_ref(self, name: str) -> int | None:
        """Snapshot a ref name points at: ``"main"`` → the committed
        pointer, else tag, else branch head."""
        if name == "main":
            return self.committed_snapshot()
        refs = self.refs()
        if name in refs["tags"]:
            return refs["tags"][name]
        if name in refs["branches"]:
            return refs["branches"][name]["snapshot"]
        raise KeyError(f"unknown ref {name!r}")

    def state_at_ref(self, spark: SparkSession, name: str):
        """Time travel by ref name (full state incl. tombstones)."""
        snap = self.resolve_ref(name)
        return None if snap is None else self.state_at(spark, snap)

    def table_at_ref(self, spark: SparkSession, name: str):
        """User-visible table (tombstones filtered) at a ref."""
        state = self.state_at_ref(spark, name)
        return None if state is None else state.filter(
            F.col(self.op_col) != "d"
        )

    def _next_lane_number(self, refs: dict) -> int:
        """Deterministic allocator for the next free snapshot number,
        computed ONLY from the committed pointer and the refs document
        (every branch's head, staged list, and reservation).  Staged
        snapshots of concurrent branches INTERLEAVE in one global
        number sequence; determinism is what makes the allocation
        safe: two allocators reading the same state compute the same
        candidate, collide on the same O_EXCL claim file, and exactly
        one proceeds — the loser retries after the winner's ref update
        lands (Iceberg's optimistic commit-retry, file-system
        edition)."""
        cur = self.committed_snapshot()
        top = -1 if cur is None else cur
        for b in refs["branches"].values():
            top = max(
                top,
                int(b["snapshot"]),
                int(b.get("reserved") or -1),
                *(int(s) for s in (b.get("snaps") or [-1])),
            )
        return top + 1

    def create_branch(self, name: str, from_snapshot: int | None = None) -> int:
        """Open a write-audit-publish branch at ``from_snapshot``
        (default: the committed pointer).  Any number of branches may
        stage CONCURRENTLY: each stages durable snapshots at
        interleaved lane numbers, invisible to main until its own
        publish.  While the first branch's reservation sits at
        main+1 the main lane is frozen (a concurrent main writer
        fails fast); once publishes interleave, conflicts are resolved
        optimistically at publish time — disjoint rewritten key-hash
        buckets fast-forward or rebase cleanly, overlapping buckets
        raise (abort and restage), Iceberg's file-level conflict
        model applied to buckets."""
        self._validate_ref_name(name, "branch")
        base = self.committed_snapshot() if from_snapshot is None else from_snapshot
        if base is None or self._read_manifest(base) is None:
            raise ValueError(
                f"cannot branch from snapshot {base}: no manifest "
                "(commit at least one batch first)"
            )
        if base != self.committed_snapshot():
            raise ValueError(
                f"can only branch from the committed snapshot "
                f"({self.committed_snapshot()}), not {base}: the lane "
                "reservation below is what keeps staging safe"
            )

        # RESERVE a snapshot-number lane immediately (claim with an
        # empty batch id): without this, a main commit could land on
        # the number between create_branch and the first stage_batch,
        # and the stage's overwrite-mode write would then trample the
        # committed snapshot's directory.  The first stage_batch
        # upgrades the reservation in place; publish/abort release it.
        # Name-check, insert, and lane allocation happen as ONE locked
        # refs update: two concurrent create_branch calls serialize
        # here, so they get distinct reservations and neither branch
        # entry is lost to a read-modify-write race.
        def _insert(refs):
            if name in refs["branches"] or name in refs["tags"]:
                raise ValueError(f"ref {name!r} already exists")
            refs["branches"][name] = {
                "base": base,
                "snapshot": base,
                "batch": None,
                "snaps": [],
                "reserved": None,
            }
            reserved = self._next_lane_number(refs)
            refs["branches"][name]["reserved"] = reserved
            return reserved

        reserved = self._refs_update(_insert)
        try:
            self._claim(reserved, None, branch=name, expected_head=base)
        except ConcurrentCommitError:
            self._refs_update(lambda refs: refs["branches"].pop(name, None))
            raise
        return base

    def stage_batch(self, branch: str, batch_df: DataFrame, batch_id: int) -> None:
        """The WRITE of write-audit-publish: merge one batch into the
        BRANCH head exactly like process_batch merges into main —
        same copy-on-write bucket merge, same CHECK enforcement, same
        claim fence, same durable manifest — except the commit
        advances the branch ref, leaving the main pointer (and every
        main reader) untouched.  Audit with ``table_at_ref`` /
        ``quarantine_table``, then ``publish_branch`` or
        ``abort_branch``.  Staging always takes the copy-on-write
        path (a staged delta would be invisible work to audit)."""
        refs = self.refs()
        if branch not in refs["branches"]:
            raise KeyError(f"unknown branch {branch!r}")
        b = refs["branches"][branch]
        if (
            b["batch"] is not None
            and batch_id <= b["batch"]
            and b.get("lineage", "") == (self.lineage or "")
        ):
            # replayed staged batch of the SAME checkpoint lineage —
            # already committed to the branch, skip.  A different
            # lineage (fresh checkpoint, batch ids restart at 0) must
            # stage regardless of batch numbering — identical rules to
            # process_batch's main-pointer guard.
            return
        head = b["snapshot"]
        spark = batch_df.sparkSession
        manifest = self._read_manifest(head)
        if manifest is None:
            raise ValueError(f"branch {branch!r} head {head} lost its manifest")
        self._merge_into_buckets(
            spark,
            self._admit(spark, batch_df, batch_id, manifest),
            manifest,
            head,
            commit_batch_id=batch_id,
            claim_batch_id=batch_id,
            branch=branch,
        )

    @staticmethod
    def _changed_buckets(m_from: dict, m_to: dict) -> set:
        """Bucket ids whose manifest entry differs between two
        snapshots — the conflict granularity of concurrent commits
        (key-hash buckets partition the key space, so disjoint bucket
        sets touch disjoint keys)."""
        a, c = m_from["buckets"], m_to["buckets"]
        return {k for k in set(a) | set(c) if a.get(k) != c.get(k)}

    def publish_branch(self, branch: str, up_to: int | None = None) -> int:
        """The PUBLISH of write-audit-publish.  With ``up_to`` set to a
        staged snapshot, publishes only the chain PREFIX through it
        (Iceberg cherry-pick adapted to chained bucket merges — only a
        prefix is independently publishable, since later staged
        snapshots' buckets compound earlier ones): the pointer
        fast-forwards to ``up_to``, its claims release, and the branch
        ref re-bases onto it with the remaining suffix still staged —
        publish the audited first K batches, keep auditing the rest.
        Prefix publish requires main at the branch base (a moved main
        needs the full-publish rebase arm, whose conflict algebra only
        composes over the whole chain).

        The full publish (``up_to`` omitted) has three arms:

        - main still at the branch's base → FAST-FORWARD the pointer to
          the branch head in one atomic rename (the staged snapshots,
          already durable manifest-complete history, become the
          committed chain);
        - main moved (a concurrent branch published, or the lane
          unfroze and a main batch landed) → REBASE: if the buckets
          this branch rewrote are disjoint from the buckets main
          changed since the base, commit a manifest-only snapshot that
          grafts the staged bucket files onto the current main
          manifest — no data moves; overlapping buckets raise
          ConcurrentCommitError (abort and restage) — Iceberg's
          optimistic file-level conflict model at bucket granularity;
        - crash-replay (pointer already carries the staged buckets) →
          skip straight to cleanup.

        Exactly-once carries over on every arm: the pointer takes the
        branch head manifest's recorded lineage/batch, so a replay of
        a published staged batch is skipped by the same guard as any
        committed batch.  Idempotent after a crash between pointer and
        ref cleanup."""
        refs = self.refs()
        b = refs["branches"].get(branch)
        if b is None:
            raise KeyError(f"unknown branch {branch!r}")
        head, base = b["snapshot"], b["base"]
        snaps = [int(s) for s in (b.get("snaps") or [])]
        cur = self.committed_snapshot()
        if up_to is not None and up_to != head:
            if up_to not in snaps:
                raise ValueError(
                    f"up_to={up_to} is not a staged snapshot of branch "
                    f"{branch!r} (staged: {snaps})"
                )
            if cur not in (base, up_to):
                raise ConcurrentCommitError(
                    f"prefix publish of branch {branch!r} requires main "
                    f"at the branch base {base} (or replaying at "
                    f"{up_to}); main is at {cur} — publish the whole "
                    "branch (rebase) or abort"
                )
            if cur == base:  # not a crash-replay of this prefix
                m = self._read_manifest(up_to)
                self._publish_pointer(
                    m.get("committed_lineage") or None,
                    m["committed_batch"],
                    up_to,
                )
            for s in (x for x in snaps if x <= up_to):
                self._release_claim(s)

            def _rebase_ref(refs):
                b2 = refs["branches"][branch]
                b2["base"] = up_to
                b2["snaps"] = [x for x in snaps if x > up_to]

            self._refs_update(_rebase_ref)
            return up_to
        if head == base:
            pass  # nothing staged: publishing just drops the ref
        elif cur == head:
            pass  # crash-replay of a completed fast-forward publish
        elif cur in set(snaps):
            # main sits on a MID-CHAIN staged snapshot: a prefix
            # publish (possibly crashed before its ref update) put it
            # there.  Finishing "the whole branch" here would silently
            # discard the staged suffix — make the caller finish the
            # prefix first, then publish or abort the remainder.
            raise ConcurrentCommitError(
                f"main is at this branch's staged snapshot {cur} (a "
                f"prefix publish); re-run publish_branch({branch!r}, "
                f"up_to={cur}) to finish it, then publish or abort the "
                "remainder"
            )
        elif cur == base:
            m = self._read_manifest(head)
            self._publish_pointer(
                m.get("committed_lineage") or None,
                m["committed_batch"],
                head,
            )
        else:
            main_m = self._read_manifest(cur)
            nxt_m = self._read_manifest(cur + 1)

            def _marked(m):
                r = (m or {}).get("rebase_of") or {}
                return r.get("branch") == branch and r.get("base") == base

            if _marked(main_m) or (
                main_m is not None
                and set(snaps)
                & {int(s) for s in main_m["buckets"].values()}
            ):
                # crash-replay of a completed REBASE publish: the
                # committed manifest is (or references) our merged
                # result — only the cleanup below remains
                head = cur
            elif _marked(nxt_m):
                # the merged manifest landed but the pointer rename
                # didn't: roll the rebase forward (the merge may have
                # overwritten the branch-head manifest in place, so it
                # must not be recomputed from the head)
                self._publish_pointer(
                    nxt_m.get("committed_lineage") or None,
                    nxt_m["committed_batch"],
                    cur + 1,
                )
                head = cur + 1
            else:
                head = self._rebase_publish(
                    branch,
                    base,
                    self._read_manifest(base),
                    self._read_manifest(head),
                    main_m,
                    cur,
                    set(snaps),
                )
        for s in snaps:
            self._release_claim(s)
        # release the lane reservation and any stage that crashed
        # before its ref update (data never recorded in any ref)
        self._drop_branch_claim(branch, recorded=set(snaps))
        self._refs_update(lambda refs: refs["branches"].pop(branch, None))
        return head

    def _rebase_publish(
        self,
        branch: str,
        base: int,
        base_m,
        head_m,
        main_m,
        cur: int,
        snaps: set,
    ) -> int:
        """Graft a staged branch onto a moved main: verify the staged
        bucket set is disjoint from what main changed since the base,
        then commit a MANIFEST-ONLY snapshot at ``cur+1`` whose bucket
        map is main's with the staged buckets' entries substituted in.
        The staged data files stay where they were written — at 100 TB
        a publish is a metadata operation, never a data copy."""
        if base_m is None or head_m is None or main_m is None:
            raise ConcurrentCommitError(
                f"branch {branch!r} cannot rebase: a required manifest "
                "(base/head/main) is missing — abort and restage"
            )
        if head_m["n_buckets"] != main_m["n_buckets"]:
            raise ConcurrentCommitError(
                f"branch {branch!r} staged under {head_m['n_buckets']} "
                f"buckets but main now has {main_m['n_buckets']} "
                "(rebucketed during staging); abort and restage"
            )
        if main_m.get("deltas"):
            raise ConcurrentCommitError(
                "main holds unfolded merge-on-read deltas (bucket "
                "ownership of their rows is unresolved); fold_deltas() "
                "before publishing a staged branch onto the moved base"
            )
        ours = self._changed_buckets(base_m, head_m)
        theirs = self._changed_buckets(base_m, main_m)
        clash = sorted(ours & theirs)
        if clash:
            raise ConcurrentCommitError(
                f"branch {branch!r} staged buckets {clash} that main "
                f"also rewrote since the branch base; abort and restage"
            )
        new_snap = cur + 1
        # the number after main's head must be ours to commit.  If it
        # is one of OUR staged snapshots we already hold its claim (its
        # branch manifest is superseded by the merged one below); if a
        # concurrent branch staged there, ITS publish will use it —
        # retry after that branch publishes or aborts.
        if new_snap not in snaps:
            self._claim(new_snap, head_m["committed_batch"])
        buckets = dict(main_m["buckets"])
        for bk in ours:
            if bk in head_m["buckets"]:
                buckets[bk] = head_m["buckets"][bk]
            else:
                buckets.pop(bk, None)
        # watermark: GC only ever advances it — take the max (ISO
        # strings of one format compare lexicographically); extra
        # not-yet-GC'd tombstones in the staged buckets are harmless
        wms = [
            w
            for w in (main_m.get("gc_watermark"), head_m.get("gc_watermark"))
            if w is not None
        ]
        self._commit(
            new_snap,
            main_m,
            head_m["committed_batch"],
            # the pointer takes the branch head's commit record, so the
            # staged batches' replay guard carries over
            committed_lineage=head_m.get("committed_lineage") or "",
            buckets=buckets,
            gc_watermark=max(wms) if wms else None,
            schema=self._merge_schema_json(
                main_m.get("schema"), head_m.get("schema")
            ),
            blooms=self._merge_bucket_stats(
                main_m.get("blooms"), head_m.get("blooms"), ours, bloom=True
            ),
            zones=self._merge_bucket_stats(
                main_m.get("zones"), head_m.get("zones"), ours
            ),
            # marks this manifest as a rebase merge so a crashed
            # publish is detected by marker, not recomputation (the
            # merge may overwrite the branch-head manifest in place
            # when the lane number is reused)
            rebase_of={"branch": branch, "base": base},
        )
        return new_snap

    @staticmethod
    def _merge_schema_json(a: str | None, b: str | None) -> str | None:
        """Union two tracked state schemas for a rebase publish; None
        (fall back to mergeSchema reads) when either side is untracked
        or a type collision isn't safely widenable."""
        if a is None or b is None:
            return None

        from pyspark.sql import types as T

        return _union_schema_json(a, T.StructType.fromJson(json.loads(b)))

    @staticmethod
    def _merge_bucket_stats(prev, new, replaced, bloom: bool = False):
        """Per-bucket pruning stats after a commit replaced the files of
        the ``replaced`` buckets (str ids): ``new``'s entries for those
        buckets, ``prev``'s for every other bucket.  Zone docs are
        ``{col: {bucket: [lo, hi]}}``; bloom docs (``bloom=True``) wrap
        the same map as ``{"bits", "hashes", "cols"}``, and ``prev``'s
        filters are dropped when their parameters differ from
        ``new``'s.  Returns None when no entry is left — the stats are
        pruning hints, never correctness, so a dropped entry only
        widens a lookup."""
        if bloom:
            if prev and new and (prev["bits"], prev["hashes"]) != (
                new["bits"], new["hashes"]
            ):
                prev = None
            params = new or prev
            prev, new = (prev or {}).get("cols"), (new or {}).get("cols")
        out = {
            c: {b: v for b, v in m.items() if b not in replaced}
            for c, m in (prev or {}).items()
        }
        for c, m in (new or {}).items():
            out.setdefault(c, {}).update(
                (b, v) for b, v in m.items() if b in replaced
            )
        out = {c: m for c, m in out.items() if m}
        if not out:
            return None
        if bloom:
            return {"bits": params["bits"], "hashes": params["hashes"], "cols": out}
        return out

    def _drop_branch_claim(
        self, branch: str, recorded: set | None = None
    ) -> None:
        """Remove every claim this branch owns that is NOT a recorded
        staged snapshot (the lane reservation, or a stage that died
        before its ref update), along with any unrecorded
        data/manifest the claim protected."""
        recorded = recorded or set()
        for snap in store.list_claims(self.target_dir):
            claim = store.read_claim(self.target_dir, snap)
            if snap in recorded or claim is None:
                continue
            if not claim[0].endswith(f"@wap:{branch}"):
                continue
            self._discard_snapshot(snap)
            self._release_claim(snap)

    def abort_branch(self, branch: str) -> int:
        """The no-PUBLISH arm: drop every staged snapshot (data dirs,
        manifests, claims) and the ref.  Main never saw any of it.
        Returns how many staged snapshots were discarded."""
        refs = self.refs()
        b = refs["branches"].get(branch)
        if b is None:
            raise KeyError(f"unknown branch {branch!r}")
        head, base = b["snapshot"], b["base"]
        snaps = [int(s) for s in (b.get("snaps") or [])]
        cur = self.committed_snapshot()
        if head != base and cur == head:
            raise ValueError(
                f"branch {branch!r} head {head} is the committed snapshot "
                "(already published); refusing to delete committed data"
            )
        if cur is not None and cur in set(snaps):
            # main sits on a MID-CHAIN staged snapshot: a prefix publish
            # crashed before its ref update (or a full rebase publish
            # landed the pointer on a reused lane number).  The
            # bucket-intersection check below cannot be the only guard —
            # a staged commit that rewrote no buckets (empty or
            # watermark-only batch) has no self-referencing entries, and
            # abort would delete the committed pointer's manifest and
            # data dir.  Mirror publish_branch's cur-in-snaps arm.
            raise ValueError(
                f"main is at this branch's staged snapshot {cur}; re-run "
                f"publish_branch({branch!r}, up_to={cur}) to finish the "
                "interrupted publish, then abort the remainder"
            )
        # a crashed rebase publish may already have grafted the staged
        # bucket files into the committed manifest — deleting them
        # would corrupt main
        cur_m = self._read_manifest(cur) if cur is not None else None
        if cur_m is not None and set(snaps) & {
            int(s) for s in cur_m["buckets"].values()
        }:
            raise ValueError(
                f"branch {branch!r} staged files are referenced by the "
                "committed manifest (published via rebase); refusing to "
                "delete committed data — call publish_branch to finish "
                "the cleanup"
            )
        # a publish that crashed mid-REBASE may have left an unpointed
        # merged manifest (+ a main-lane claim) for this branch.  Drop
        # it FIRST — it references the staged data deleted below, and
        # an abort that crashes in between must never leave a manifest
        # that recover_interrupted_commit would roll the pointer
        # forward onto with its files already gone.
        self._drop_crashed_rebase(branch)
        discarded = 0
        for s in snaps:
            self._discard_snapshot(s)
            self._release_claim(s)
            discarded += 1
        # the lane reservation and any stage that crashed before its
        # ref update — ours to drop
        self._drop_branch_claim(branch, recorded=set(snaps))
        self._refs_update(lambda refs: refs["branches"].pop(branch, None))
        return discarded

    def _drop_crashed_rebase(self, branch: str) -> None:
        """Delete any UNPOINTED rebase-merge manifest this branch left
        behind (marker ``rebase_of.branch``), plus the main-lane claim
        its crashed publish held."""
        cur = self.committed_snapshot()
        for snap in store.list_manifests(self.target_dir):
            if cur is not None and snap <= cur:
                continue  # committed chain: never touch
            try:
                m = self._read_manifest(snap)
            except json.JSONDecodeError:
                continue
            if ((m or {}).get("rebase_of") or {}).get("branch") != branch:
                continue
            with contextlib.suppress(FileNotFoundError):
                os.unlink(self._manifest_path(snap))
            self._release_claim(snap)

    def current_state(self, spark: SparkSession) -> DataFrame | None:
        """Full state incl. delete tombstones (one row per ever-seen key)
        — one multi-path scan over every bucket's current file set; the
        same read as ``state_at`` of the committed snapshot."""
        snap = self.committed_snapshot()
        return None if snap is None else self.state_at(spark, snap)

    def current_table(self, spark: SparkSession) -> DataFrame | None:
        """The user-visible table: tombstones filtered out."""
        state = self.current_state(spark)
        if state is None:
            return None
        return state.filter(F.col(self.op_col) != "d")

    # -- bloom-pruned point lookups ---------------------------------------
    def probe_buckets(
        self, spark: SparkSession, col: str, value, manifest: dict | None = None
    ) -> list[int]:
        """Bucket ids that MAY hold ``col = value`` per the manifest's
        bloom filters: buckets whose filter misses any of the k hash
        bits are proven clear; buckets WITHOUT a filter (bloom tracking
        off, pre-bloom commits, stale-after-rewrite drops) are always
        candidates — pruning is an optimization, never a filter.
        Hash positions are computed BY SPARK over the same
        CAST(.. AS STRING) canonical form the writer hashed (a one-row
        job), so driver-side Python never re-implements xxhash64.

        ``manifest``: pass the snapshot manifest the caller is reading
        so filters and file paths come from ONE commit — lookup() does;
        re-reading the pointer here could pair a newer rewrite's fresh
        filter with the older snapshot's files and silently
        false-negative the lookup (writer commits are atomic, reader
        consistency comes from reading the manifest exactly once)."""
        if manifest is None:
            manifest = self._read_manifest(self.committed_snapshot()) or {}
        all_buckets = sorted(int(b) for b in manifest.get("buckets", {}))
        doc = manifest.get("blooms") or {}
        col_map = (doc.get("cols") or {}).get(col)
        if not col_map:
            return all_buckets
        bits, hashes = doc["bits"], doc["hashes"]
        probe = spark.range(1).select(
            *[
                F.pmod(
                    F.xxhash64(F.lit(value).cast("string"), F.lit(s)),
                    F.lit(bits),
                ).alias(f"p{s}")
                for s in range(hashes)
            ]
        ).collect()[0]
        positions = [int(probe[s]) for s in range(hashes)]
        out = []
        for b in all_buckets:
            enc = col_map.get(str(b))
            if enc is None:
                out.append(b)  # no filter: must read
                continue
            buf = base64.b64decode(enc)
            if all(buf[p >> 3] & (1 << (p & 7)) for p in positions):
                out.append(b)
        return out

    def lookup(self, spark: SparkSession, col: str, value) -> DataFrame | None:
        """Point lookup ``col = value`` reading ONLY the bloom-candidate
        buckets: at 100 TB this is the difference between touching k
        files and scanning the table for a needle query on a non-key
        column.  Equality is evaluated on the same CAST(.. AS STRING)
        canonical form the filters hash (so pruning can never
        contradict the filter).  Pending MOR deltas carry no filters —
        and an un-bloomed delta row may hide the value in a
        bloom-cleared bucket — so with deltas outstanding the lookup
        falls back to the full merge-on-read scan (fold_deltas() first
        to restore pruned lookups), mirroring the read-optimized vs
        real-time query split of Hudi/Iceberg."""
        return self._pruned_read(
            spark,
            F.col(col).cast("string") == F.lit(value).cast("string"),
            lambda m: self.probe_buckets(spark, col, value, manifest=m),
        )

    def _pruned_read(self, spark: SparkSession, match: Column, probe):
        """The committed table filtered on ``match``, reading only the
        buckets ``probe(manifest)`` returns.  The manifest is read ONCE
        so candidates and file paths come from one commit.  Pending MOR
        deltas carry no pruning stats, so they force the full scan; an
        empty candidate set is provably empty."""
        manifest = self._read_manifest(self.committed_snapshot())
        if manifest is None or not manifest.get("buckets"):
            return None
        if manifest.get("deltas"):
            return self.current_table(spark).filter(match)
        paths = [
            self._bucket_path(manifest["buckets"][str(b)], b)
            for b in probe(manifest)
            if str(b) in manifest["buckets"]
        ]
        if not paths:
            return self.current_table(spark).filter(F.lit(False))
        df = self._state_reader(spark, manifest.get("schema")).parquet(*paths)
        return df.filter(F.col(self.op_col) != "d").filter(match)

    # -- zone-map-pruned range lookups -------------------------------------
    def zone_probe_buckets(
        self, col: str, lo, hi, manifest: dict | None = None
    ) -> list[int]:
        """Bucket ids whose [min, max] zone MAY overlap ``[lo, hi]``;
        buckets without a zone (tracking off, pre-zone commits, a
        column absent from the files) are always candidates — pruning is an
        optimization, never a filter.  Comparison happens in the
        column's own domain (int or str), the same total order parquet
        footer stats use."""
        if manifest is None:
            manifest = self._read_manifest(self.committed_snapshot()) or {}
        all_buckets = sorted(int(b) for b in manifest.get("buckets", {}))
        col_map = (manifest.get("zones") or {}).get(col)
        if not col_map:
            return all_buckets
        out = []
        for b in all_buckets:
            z = col_map.get(str(b))
            if z is None or not (z[1] < lo or z[0] > hi):
                out.append(b)
        return out

    def lookup_range(self, spark: SparkSession, col: str, lo, hi):
        """Range lookup ``col BETWEEN lo AND hi`` reading ONLY the
        zone-overlapping buckets — the range complement of the bloom
        point ``lookup()``: at 100 TB a narrow range on a clustered
        non-key column touches a handful of files instead of the
        table.  Pending MOR deltas carry no zones, so the lookup falls
        back to the full merge-on-read scan (fold_deltas() first to
        restore pruning), mirroring lookup()."""
        return self._pruned_read(
            spark,
            (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)),
            lambda m: self.zone_probe_buckets(col, lo, hi, manifest=m),
        )

    # -- the foreachBatch body ------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Merge one micro-batch into state.

        Copy-on-write (default): touch only the key-hash buckets the
        batch's keys land in —

        1. read base state for the TOUCHED buckets only,
        2. union + window-compact, write those buckets under a fresh
           ``v=<snap>`` dir (never a dir being read — crash-safe),
        3. commit manifest (untouched buckets keep their old paths)
           then pointer, atomically.

        Per-batch cost is O(touched buckets × bucket size); untouched
        bucket files are untouched bytes on disk.  Step 1's bucket set
        comes from a one-stage probe job, skipped on a one-bucket sink
        (the default sized-to-data sink below one read split), so such
        a batch is ONE Spark job.

        Merge-on-read (``merge_on_read=True``): append the raw batch as
        a DELTA file set under ``v=<snap>/__delta`` — zero shuffle, no
        base read, one write job — and let readers compact base+deltas;
        every ``fold_deltas_every`` commits the pending deltas fold
        into the buckets via the same copy-on-write merge.  Per-batch
        cost is O(batch) regardless of state size — the ingest-heavy
        posture (Hudi MOR parity)."""
        lineage, committed_batch, committed_snap = self.committed()
        if (
            committed_batch is not None
            and batch_id <= committed_batch
            and lineage == self.lineage
        ):
            # replayed batch of the SAME checkpoint lineage — already
            # committed, skip.  A different lineage (fresh checkpoint)
            # must process regardless of batch numbering.
            return
        spark = batch_df.sparkSession
        manifest = self._read_manifest(committed_snap)
        if manifest is None:
            if committed_snap is not None:
                # merging onto empty state would drop every committed key
                raise ValueError(
                    f"committed snapshot {committed_snap} has no manifest "
                    "(expired, never committed, or a crashed writer's "
                    "data); run recover_interrupted_commit() or roll back "
                    "to a manifest-bearing snapshot"
                )
            manifest = {"n_buckets": self.n_buckets, "buckets": {}}
        batch_df = self._admit(spark, batch_df, batch_id, manifest)
        if self.merge_on_read:
            n_pending = self._append_delta(
                spark, batch_df, manifest, committed_snap, batch_id
            )
            if self.fold_deltas_every and n_pending >= self.fold_deltas_every:
                self.fold_deltas(spark)
            return
        if manifest.get("deltas"):
            # a copy-on-write batch over pending deltas (sink reopened
            # with merge_on_read=False): fold first so the merge below
            # sees a fully-bucketed base
            self.fold_deltas(spark)
            lineage, committed_batch, committed_snap = self.committed()
            manifest = self._read_manifest(committed_snap)
        self._merge_into_buckets(
            spark,
            batch_df,
            manifest,
            committed_snap,
            commit_batch_id=batch_id,
            claim_batch_id=batch_id,
        )

    def _admit(
        self, spark: SparkSession, batch_df: DataFrame, batch_id: int, manifest: dict
    ) -> DataFrame:
        """The rows of a batch a commit on ``manifest`` may merge."""
        # late-data floor: once tombstones older than the GC watermark
        # are gone, changes older than it MUST be dropped — otherwise a
        # straggler update could resurrect a GC'd deleted key
        watermark = manifest.get("gc_watermark")
        if watermark is not None:
            batch_df = batch_df.filter(F.col(self._order_key()) >= F.lit(watermark))
        if self.checks:
            batch_df = self._enforce_checks(spark, batch_df, batch_id)
        return batch_df

    def _enforce_checks(
        self, spark: SparkSession, batch_df: DataFrame, batch_id: int
    ) -> DataFrame:
        """Split a batch on the declared CHECK constraints: return the
        clean rows, divert (or raise on) the violators.  Delete rows
        pass unchecked — a tombstone's payload columns are legally
        NULL.  The violation tag is the FIRST failing check (declared
        order), so one quarantined row names one actionable rule."""
        is_delete = F.col(self.op_col) == F.lit("d")
        reason = F.lit(None).cast("string")
        for name in reversed(list(self.checks)):
            expr = self.checks[name]
            # a check that evaluates NULL is a violation (ANSI CHECK
            # semantics would pass it; a data-quality gate must not —
            # NULL-escaping is exactly how bad rows sneak through)
            ok = F.coalesce(F.expr(expr), F.lit(False))
            reason = F.when(~ok, F.lit(name)).otherwise(reason)
        tagged = batch_df.withColumn(
            "__check", F.when(is_delete, F.lit(None).cast("string")).otherwise(reason)
        )
        bad = tagged.filter(F.col("__check").isNotNull())
        if self.check_mode == "fail":
            census = bad.groupBy("__check").count().collect()
            if census:
                detail = ", ".join(f"{r['__check']}={r['count']}" for r in census)
                raise ValueError(
                    f"CHECK constraint violations in batch {batch_id}: {detail}"
                )
            return tagged.drop("__check")
        # quarantine lane: append violators with provenance, commit the
        # clean remainder.  A cheap limit(1) probe gates the write job
        # so clean pipelines (the common case) pay one short-circuiting
        # scan instead of a full append job touching _quarantine/ every
        # batch.
        if not bad.isEmpty():
            bad.withColumn(
                "__batch", F.lit(batch_id).cast("bigint")
            ).write.mode("append").parquet(store.quarantine_path(self.target_dir))
        return tagged.filter(F.col("__check").isNull()).drop("__check")

    def quarantine_table(self, spark: SparkSession) -> DataFrame | None:
        """The quarantine lane as a DataFrame (batch schema +
        ``__check`` = failing rule, ``__batch`` = source batch id), or
        None if nothing was ever quarantined (no lane directory).  A
        lane that exists but cannot be read raises."""
        lane = store.quarantine_path(self.target_dir)
        if not os.path.isdir(lane):
            return None
        # mergeSchema: violators append across batches whose schemas
        # may evolve (the sink supports widening/added columns) — a
        # single sampled footer would silently drop historical violator
        # columns from the view.
        return spark.read.option("mergeSchema", "true").parquet(lane)

    def _merge_into_buckets(
        self,
        spark: SparkSession,
        batch_df: DataFrame,
        manifest: dict,
        committed_snap: int | None,
        commit_batch_id: int,
        claim_batch_id: int | None,
        branch: str | None = None,
    ) -> None:
        """The copy-on-write merge body, shared by process_batch (live
        batches claim with their batch id), fold_deltas (maintenance
        claim, batch_id=None, commit preserves the last batch id), and
        stage_batch (``branch`` set: commit targets the branch ref,
        main pointer untouched).

        On a multi-bucket manifest a one-stage probe job finds the
        buckets the batch touches, then one write job rewrites them; a
        batch that admits no rows touches none and runs no write job.
        On a one-bucket manifest (every sink sized to its data until it
        outgrows one read split) the probe could only answer bucket 0,
        so it is skipped and the merge is the one write job — also for
        a batch that admits no rows: it rewrites bucket 0 with the same
        rows, or, on a sink with no state yet, writes no bucket dir."""
        bucket = self._bucket_col(manifest["n_buckets"])
        # no batch pre-compaction: the merge below window-compacts the
        # union anyway, so compacting the batch first would pay a whole
        # extra shuffle+sort for rows the final window re-examines
        tagged = batch_df.withColumn("__bucket", bucket)
        t_setup = time.time()
        # AQE off for the sink's two fixed-shape jobs: the probe has no
        # exchange and the merge is explicitly repartitioned to the
        # touched buckets, so AQE's per-stage re-optimization can only
        # ADD driver latency — it must not coalesce a user
        # repartition, and key-hash buckets are uniform by
        # construction, so there is no skew for it to split.  Measured
        # ~0.13 s/micro-batch on local[32].
        with _aqe_disabled(spark):
            if manifest["n_buckets"] == 1:
                # one bucket: the probe could only answer [0], so run
                # no job for it
                touched, t_probe = [0], t_setup
            else:
                # touched-bucket probe: ONE stage, no reduce.  It runs
                # on the RAW batch, not the compacted pipeline:
                # compaction keeps (at least) one row per key, so the
                # raw batch's key-hash bucket set IS the compacted set.
                touched = sorted(
                    _observed_scan(
                        tagged.select("__bucket"),
                        F.collect_set("__bucket").alias("touched"),
                    )["touched"]
                )
                t_probe = time.time()
            base_paths = [
                self._bucket_path(manifest["buckets"][str(b)], b)
                for b in touched
                if str(b) in manifest["buckets"]
            ]
            if base_paths:
                # allowMissingColumns = schema evolution: a batch may
                # ADD columns (old state rows read NULL there) or
                # arrive while historical state has columns the source
                # dropped — both union into the superset schema,
                # Iceberg-style.  When the manifest carries the state's
                # union schema, read with it EXPLICITLY (missing
                # columns null-fill) instead of paying the mergeSchema
                # footer-merge job every micro-batch.
                base = (
                    self._state_reader(spark, manifest.get("schema"))
                    .parquet(*base_paths)
                    .withColumn("__bucket", bucket)
                )
                unioned = base.unionByName(tagged, allowMissingColumns=True)
            else:
                unioned = tagged
            # ONE bucket-aligned shuffle: compaction windows over
            # (__bucket, keys) on data repartitioned by __bucket into
            # one partition per touched bucket, up to the slot count.
            write_tasks = _bucket_tasks(spark, len(touched))
            merged = latest_per_key_bucketed(
                unioned, self.keys, self.order_by, "__bucket", max(write_tasks, 1)
            )
            new_snap = self._claim_merge(committed_snap, claim_batch_id, branch)
            # data first (always a fresh directory — never one being
            # read).  Nothing admitted (an all-poison file, a batch
            # wholly below the GC floor) touches no bucket of a
            # multi-bucket sink: no write job, and the commit still
            # advances the replay guard.
            fields = self._write_buckets(merged, new_snap, manifest, touched)
        t_write = time.time()
        # … then manifest (rewritten buckets point at new_snap, all
        # others keep their byte-identical files) + pointer
        self._commit(
            new_snap,
            manifest,
            commit_batch_id,
            branch=branch,
            # a bucket merge consumes any pending deltas (fold_deltas
            # routes here), so the new manifest starts with none
            deltas=None,
            **fields,
        )
        n_buckets = manifest["n_buckets"]
        if branch is None and self.sized_to_data:
            n_buckets = self._grow_to_split(spark, new_snap, n_buckets)
        # per-phase wall clock of the LAST committed batch — the sink's
        # own latency breakdown (T8 observability; tools/stream_bench.py
        # aggregates it to locate fixed per-micro-batch overhead);
        # commit_s includes any growth rebucket
        self.last_batch_timings = {
            "probe_s": round(t_probe - t_setup, 4),
            "write_s": round(t_write - t_probe, 4),
            "commit_s": round(time.time() - t_write, 4),
            "n_touched": len(touched),
            "write_tasks": write_tasks,
            "n_buckets": n_buckets,
        }

    def _claim_merge(
        self, committed_snap: int | None, claim_batch_id: int | None, branch: str | None
    ) -> int:
        """Claim the snapshot a merge on ``committed_snap`` writes and
        return its number: ``committed_snap + 1`` on main, a staged lane
        number on a branch."""
        if branch is None:
            new_snap = (committed_snap if committed_snap is not None else -1) + 1
            # writer fence, before data
            self._claim(new_snap, claim_batch_id)
            return new_snap
        # staged snapshots take interleaved lane numbers: the first
        # stage consumes the branch's reservation (claim upgraded in
        # place below); later stages take the next free number from the
        # deterministic allocator.  Two branches staging CONCURRENTLY
        # can read the same refs state and compute the same candidate —
        # the O_EXCL claim makes exactly one proceed, and the loser's
        # correct move is to RE-ALLOCATE on the refreshed refs (the
        # winner's claim is durable even before its ref update lands, so
        # the allocator must skip past it by probing, Iceberg's
        # commit-retry loop), not to surface a spurious conflict for a
        # legal concurrent stage.  Only allocator-chosen numbers retry;
        # a conflict on the branch's own RESERVATION is a real
        # double-writer on one branch and still raises.
        b_ref = self.refs()["branches"][branch]
        if not b_ref.get("snaps") and b_ref.get("reserved") is not None:
            new_snap = int(b_ref["reserved"])
            self._claim(
                new_snap, claim_batch_id, branch=branch, expected_head=committed_snap
            )
            return new_snap
        new_snap = self._next_lane_number(self.refs())
        for _ in range(64):
            try:
                self._claim(
                    new_snap,
                    claim_batch_id,
                    branch=branch,
                    expected_head=committed_snap,
                )
                return new_snap
            except ConcurrentCommitError:
                b_now = self.refs()["branches"].get(branch)
                if b_now is None or b_now.get("snapshot") != committed_snap:
                    # OUR branch moved (or vanished) — a real
                    # same-branch conflict, not a lane collision:
                    # surface it
                    raise
                holder = (store.read_claim(self.target_dir, new_snap) or ("",))[0]
                if holder.endswith(f"@wap:{branch}"):
                    # the colliding claim is OUR OWN branch's: a
                    # concurrent second writer on this branch (its ref
                    # update just hasn't landed yet).  Probing past it
                    # would let both batches stage against the SAME
                    # head — two diverging diffs recorded as one chain.
                    # Per-branch single-writer is the contract: raise.
                    raise ConcurrentCommitError(
                        f"branch {branch!r} has a concurrent "
                        f"staged writer (claim at {new_snap}); "
                        "one writer per branch — if it is "
                        "live, wait and retry on the new "
                        "head; if it died, "
                        "recover_interrupted_commit() sweeps "
                        "its unrecorded claim"
                    ) from None
                # a concurrent OTHER branch holds this number: probe
                # upward past every durable claim — refs alone can lag
                # a winner's ref update
                probe = max(new_snap + 1, self._next_lane_number(self.refs()))
                while os.path.exists(self._claim_path(probe)):
                    probe += 1
                new_snap = probe
        raise ConcurrentCommitError(
            f"could not allocate a staged snapshot lane "
            f"for branch {branch!r} after 64 attempts"
        )

    def _write_buckets(
        self, df: DataFrame | None, snapshot: int, prev: dict, replaced
    ) -> dict:
        """THE bucket writer: every commit that writes bucket files —
        the merge, rebucket, GC and compaction — writes through here.

        ``df`` carries ``__bucket`` and is bucket-aligned (every bucket
        whole in one task); it replaces the buckets ``replaced`` of the
        manifest ``prev``.  Rows are sorted by ``sort_within_bucket``
        inside each bucket, the bloom positions ride the write job as
        observed aggregates (each position is bucket * bits + hash, so
        one collect_set per (column, hash seed) carries every bucket's
        filter), and the write runs with AQE off through
        :func:`_overwrite_writer`, one partition dir per bucket under
        snapshot ``snapshot``'s dir.  Static overwrite truncates any
        orphan files a crashed attempt left, whatever the session's
        partitionOverwriteMode.  Zones fold from the written footers.

        Returns the commit fields: the bucket map with each replaced
        bucket pointing at ``snapshot`` (dropped when it wrote no rows),
        the schema, and blooms / zones whose replaced entries are the
        fresh ones.  With nothing to replace there is no write job and
        only the bucket map returns; the snapshot dir exists either way,
        so snapshots_table sees every snapshot."""
        replaced = {str(b) for b in replaced}
        buckets = {b: s for b, s in prev["buckets"].items() if b not in replaced}
        if not replaced:
            os.makedirs(self._snapshot_path(snapshot), exist_ok=True)
            return {"buckets": buckets}
        if self.sort_within_bucket:
            # a local per-partition sort on the bucket-aligned data:
            # tightens row-group stats, adds no exchange
            df = df.sortWithinPartitions("__bucket", *self.sort_within_bucket)
        bloom_cols = [c for c in self.bloom_cols or [] if c in df.columns]
        if bloom_cols:
            observed = Observation()
            df = df.observe(
                observed,
                *[
                    F.collect_set(
                        F.col("__bucket").cast("bigint") * self.bloom_bits
                        + F.pmod(
                            F.xxhash64(F.col(c).cast("string"), F.lit(s)),
                            F.lit(self.bloom_bits),
                        )
                    ).alias(f"{c}::{s}")
                    for c in bloom_cols
                    for s in range(self.bloom_hashes)
                ],
            )
        with _aqe_disabled(df.sparkSession):
            (
                _overwrite_writer(df)
                .option("partitionOverwriteMode", "static")
                .partitionBy("__bucket")
                .parquet(self._snapshot_path(snapshot))
            )
        written = store.written_buckets(self.target_dir, snapshot)
        buckets.update((str(b), snapshot) for b in written)
        blooms: dict[str, dict[str, str]] = {}
        for c in bloom_cols:
            fresh: dict[int, bytearray] = {}
            for s in range(self.bloom_hashes):
                for pos in observed.get[f"{c}::{s}"] or []:
                    bkt, bit = divmod(int(pos), self.bloom_bits)
                    buf = fresh.setdefault(bkt, bytearray(self.bloom_bits // 8))
                    buf[bit >> 3] |= 1 << (bit & 7)
            blooms[c] = {
                str(bkt): base64.b64encode(bytes(buf)).decode()
                for bkt, buf in fresh.items()
            }
        zones = (
            _footer_zones(
                {b: self._bucket_path(snapshot, b) for b in written}, self.zone_cols
            )
            if self.zone_cols
            else None
        )
        return {
            "buckets": buckets,
            "schema": self._next_schema(prev, df.schema),
            "blooms": self._merge_bucket_stats(
                prev.get("blooms"),
                {"bits": self.bloom_bits, "hashes": self.bloom_hashes, "cols": blooms},
                replaced,
                bloom=True,
            ),
            "zones": self._merge_bucket_stats(prev.get("zones"), zones, replaced),
        }

    def _grow_to_split(self, spark: SparkSession, snapshot: int, n_buckets: int) -> int:
        """Size-to-data growth after a main-line commit at ``snapshot``:
        when the largest bucket it wrote holds more bytes than one read
        split (``spark.sql.files.maxPartitionBytes``), ``rebucket`` to
        ``n_buckets × 2^k``, the smallest doubling that brings that
        bucket back under the split.  The check stats the written
        bucket files (no Spark job); a commit that wrote none never
        grows.  No growth while a branch is open: its publish would
        refuse a bucket count changed under it.  Returns the bucket
        count after."""
        target = _conf_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes"))
        largest = max(
            (
                sum(
                    os.path.getsize(p)
                    for p in store.data_files(self._bucket_path(snapshot, b))
                )
                for b in store.written_buckets(self.target_dir, snapshot)
            ),
            default=0,
        )
        if largest <= target or self.refs()["branches"]:
            return n_buckets
        grown = n_buckets << (-(-largest // target) - 1).bit_length()
        self.rebucket(spark, grown)
        return grown

    @staticmethod
    def _next_schema(manifest: dict, written_schema) -> str | None:
        """The state schema a commit writing ``written_schema`` records:
        the union with the tracked one — except on a legacy target
        predating schema tracking, whose untouched buckets may hold
        columns no tracked commit ever saw: never start tracking
        mid-life, stay on the mergeSchema path."""
        stored = manifest.get("schema")
        if stored is None and manifest["buckets"]:
            return None
        return _union_schema_json(stored, written_schema)

    # -- merge-on-read deltas -------------------------------------------
    def pending_deltas(self) -> list[int]:
        """Snapshot numbers of committed-but-unfolded MOR deltas."""
        manifest = self._read_manifest(self.committed_snapshot())
        return list((manifest or {}).get("deltas") or [])

    def _append_delta(
        self,
        spark: SparkSession,
        batch_df: DataFrame,
        manifest: dict,
        committed_snap: int | None,
        batch_id: int,
    ) -> int:
        """The merge-on-read fast path: write the raw change batch to
        the snapshot's delta dir — ONE job, zero shuffle, no base read
        — and commit a manifest whose bucket map is unchanged and whose
        delta list grows by this snapshot.  Crash/replay safety is the
        same claim-fence + manifest-then-pointer protocol as the
        bucketed write (a replayed batch deterministically rewrites the
        same delta dir).  The bucketed BASE is untouched, so its bloom
        filters and zone maps stay exactly valid (lookups scan the
        un-bloomed deltas regardless).  Returns the number of pending
        deltas after this commit."""
        t0 = time.time()
        new_snap = (committed_snap if committed_snap is not None else -1) + 1
        self._claim(new_snap, batch_id)  # writer fence, before any data
        with _aqe_disabled(spark):
            _overwrite_writer(batch_df).parquet(self._delta_path(new_snap))
        t_write = time.time()
        deltas = list(manifest.get("deltas") or []) + [new_snap]
        self._commit(
            new_snap,
            manifest,
            batch_id,
            schema=self._next_schema(manifest, batch_df.schema),
            deltas=deltas,
        )
        self.last_batch_timings = {
            "probe_s": 0.0,
            "write_s": round(t_write - t0, 4),
            "commit_s": round(time.time() - t_write, 4),
            "n_touched": 0,
            "n_buckets": manifest["n_buckets"],
        }
        return len(deltas)

    def fold_deltas(self, spark: SparkSession) -> int:
        """Fold every pending MOR delta into the bucketed base through
        the copy-on-write merge (maintenance-style claim, preserved
        batch id), clearing the manifest's delta list — after this,
        reads are pre-compacted again and the superseded delta dirs
        become expire_snapshots fodder.  Returns the number of delta
        commits folded.  Cost is one COW merge over the UNION of the
        pending batches — the amortization that makes MOR ingest
        O(batch) per commit instead of O(touched state)."""
        lineage, committed_batch, committed_snap = self.committed()
        manifest = self._read_manifest(committed_snap)
        deltas = (manifest or {}).get("deltas") or []
        if not deltas:
            return 0
        delta_df = self._state_reader(spark, manifest.get("schema")).parquet(
            *[self._delta_path(s) for s in deltas]
        )
        self._merge_into_buckets(
            spark,
            delta_df,
            manifest,
            committed_snap,
            commit_batch_id=committed_batch,
            claim_batch_id=None,  # maintenance claim, never a live batch
        )
        return len(deltas)

    # -- metadata tables (S7: Iceberg .snapshots/.files equivalents) ----
    def snapshots_table(self, spark: SparkSession) -> DataFrame:
        """One row per snapshot directory — the sink's answer to
        Iceberg's ``<table>.snapshots`` metadata table (the reference
        inspects ``.history``, validation.py:731-740).  Columns:
        (snapshot, is_committed, batch_id, n_buckets,
        buckets_rewritten, gc_watermark, refs) — ``refs`` lists the
        named refs pointing at the snapshot (``tag:<name>``,
        ``branch:<name>`` for a branch HEAD), comma-joined sorted, the
        Iceberg refs-metadata parity surface."""
        committed_lineage, committed_batch, committed_snap = self.committed()
        ref_doc = self.refs()
        by_snap: dict[int, list[str]] = {}
        for name, snap in ref_doc["tags"].items():
            by_snap.setdefault(int(snap), []).append(f"tag:{name}")
        for name, b in ref_doc["branches"].items():
            by_snap.setdefault(int(b["snapshot"]), []).append(
                f"branch:{name}"
            )
        rows = []
        for snap in store.list_snapshots(self.target_dir):
            manifest = self._read_manifest(snap)
            rewritten = sum(
                1 for b, s in (manifest or {}).get("buckets", {}).items() if s == snap
            )
            wm = (manifest or {}).get("gc_watermark")
            rows.append(
                (
                    snap,
                    snap == committed_snap,
                    committed_batch if snap == committed_snap else None,
                    (manifest or {}).get("n_buckets"),
                    rewritten,
                    # watermark type follows order_by[0] (int, str, …) —
                    # stringified so the metadata schema is stable
                    None if wm is None else str(wm),
                    ",".join(sorted(by_snap.get(snap, []))) or None,
                )
            )
        return spark.createDataFrame(
            rows,
            "snapshot int, is_committed boolean, batch_id long, "
            "n_buckets int, buckets_rewritten int, gc_watermark string, "
            "refs string",
        )

    def ledger_table(self, spark: SparkSession) -> DataFrame:
        """The TRANSACTION LEDGER: one row per committed snapshot with
        the batch id that produced it — the queryable audit surface of
        the exactly-once contract (the reference keeps the same record
        in its ``processed_batches`` Postgres table,
        src/processor/spark_exactly_once.py; here it is reconstructed
        from the immutable manifests, no extra store).  Columns:

        - ``snapshot``, ``batch_id``, ``lineage`` — the commit record;
        - ``is_data_commit`` — False for maintenance commits
          (compaction / rebucket / fold / gc), which advance the
          snapshot but CARRY the previous batch id: the replay guard
          compares batch ids, so maintenance never widens the
          exactly-once window;
        - ``buckets_rewritten``, ``n_deltas`` — the commit's physical
          footprint;
        - ``is_committed`` — True on the live pointer's snapshot.

        A replayed batch id never appears twice: process_batch skips
        an already-committed (lineage, batch) — count(distinct
        batch_id) over data commits IS the processed-batch count, and
        auditing "did batch N land exactly once?" is a ledger filter,
        not a rescan."""
        _, _, committed_snap = self.committed()
        # the ledger is COMMITTED history: walk the chain by parent
        # links from the pointer (staged snapshots of live branches
        # interleave numerically but are not commits).  Retained
        # manifests below the chain walk's end (an expiry gap pinned
        # by a tag) keep their legacy numeric-order listing.
        on_chain: set[int] = set()
        s = committed_snap
        while s is not None and s >= 0:
            m = self._read_manifest(s)
            if m is None:
                break  # expired ancestor: chain record ends here
            on_chain.add(s)
            p = m.get("parent")
            s = int(p) if p is not None else s - 1
        chain_floor = min(on_chain) if on_chain else None
        rows = []
        prev_batch: int | None = None
        prev_lineage: str | None = None
        for snap in store.list_manifests(self.target_dir):
            # manifests, not v= dirs: a REBASE publish is a
            # manifest-only commit (no data dir of its own)
            if chain_floor is not None and (
                snap not in on_chain and snap >= chain_floor
            ):
                continue  # a live branch's staged snapshot, not a commit
            manifest = self._read_manifest(snap)
            if manifest is None:
                continue  # raced expiry
            batch = manifest.get("committed_batch")
            lineage = manifest.get("committed_lineage") or ""
            # a maintenance commit re-records the previous data
            # batch's id; a data commit advances it (or starts a new
            # lineage)
            is_data = prev_batch is None or (
                batch != prev_batch or lineage != prev_lineage
            )
            rows.append(
                (
                    snap,
                    batch,
                    lineage,
                    is_data,
                    sum(
                        1
                        for b, s in manifest.get("buckets", {}).items()
                        if s == snap
                    ),
                    len(manifest.get("deltas") or []),
                    snap == committed_snap,
                )
            )
            prev_batch, prev_lineage = batch, lineage
        return spark.createDataFrame(
            rows,
            "snapshot int, batch_id long, lineage string, "
            "is_data_commit boolean, buckets_rewritten int, "
            "n_deltas int, is_committed boolean",
        )

    def files_table(self, spark: SparkSession) -> DataFrame:
        """One row per live data file of the COMMITTED state — the
        ``<table>.files`` equivalent: (bucket, snapshot, path,
        size_bytes).  Files of uncommitted or superseded snapshots
        don't appear (they are expire_snapshots fodder)."""
        manifest = self._read_manifest(self.committed_snapshot())
        rows = []
        for b, snap in ((manifest or {}).get("buckets") or {}).items():
            for p in store.data_files(self._bucket_path(snap, b)):
                rows.append((int(b), snap, p, os.path.getsize(p)))
        # merge-on-read deltas are live state too: bucket=NULL (a delta
        # file holds rows of ANY bucket until fold_deltas sorts them)
        for snap in (manifest or {}).get("deltas") or []:
            for p in store.data_files(self._delta_path(snap)):
                rows.append((None, snap, p, os.path.getsize(p)))
        return spark.createDataFrame(
            rows, "bucket int, snapshot int, path string, size_bytes long"
        )

    def stats_table(self, spark: SparkSession) -> DataFrame:
        """One row per (bucket, stat) of the COMMITTED manifest — the
        pruning-metadata introspection table (Iceberg's
        ``<table>.partitions``-style surface for THIS sink's skipping
        state): which buckets carry bloom filters for which columns,
        which carry zone maps and with what bounds, and which are
        blind (always-scan).  The operational question it answers:
        "why did my lookup open k buckets?" — stale-after-rewrite
        drops show up here as missing rows."""
        manifest = self._read_manifest(self.committed_snapshot()) or {}
        rows = []
        for b, snap in (manifest.get("buckets") or {}).items():
            rows.append((int(b), snap, "bucket", None, None, None))
        for col, m in ((manifest.get("blooms") or {}).get("cols") or {}).items():
            for b in m:
                rows.append((int(b), None, "bloom", col, None, None))
        for col, m in (manifest.get("zones") or {}).items():
            for b, z in m.items():
                rows.append(
                    (int(b), None, "zone", col, str(z[0]), str(z[1]))
                )
        return spark.createDataFrame(
            rows,
            "bucket int, snapshot int, stat string, col string,"
            " zone_min string, zone_max string",
        )

    # -- bucket maintenance: compaction, partition evolution ------------
    def _maintenance_base(self, spark: SparkSession):
        """The prologue compaction, GC and rebucket share: fold pending
        MOR deltas first — each rewrites buckets by the manifest's
        bucket map alone, and a row still sitting in a delta file (a
        tombstone above all) would outlive the rewrite — then return
        the committed ``(batch_id, snapshot, manifest)``; manifest is
        None when there is no bucketed state."""
        if self.pending_deltas():
            self.fold_deltas(spark)
        _, committed_batch, committed_snap = self.committed()
        manifest = self._read_manifest(committed_snap)
        if manifest is not None and not manifest["buckets"]:
            manifest = None
        return committed_batch, committed_snap, manifest

    def _maintenance_commit(
        self,
        df: DataFrame | None,
        committed_batch: int | None,
        committed_snap: int,
        prev: dict,
        replaced,
        **changes,
    ) -> int:
        """Commit one maintenance rewrite on ``prev``, the manifest of
        ``committed_snap``: claim the next snapshot, realign ``df``
        (carrying ``__bucket``; None when ``replaced`` is empty) with
        the one bucket-aligned shuffle into ``min(len(replaced),
        defaultParallelism)`` tasks, write it through the bucket writer
        and commit with ``changes``.  Returns the new snapshot."""
        new_snap = committed_snap + 1
        # maintenance claims carry batch_id=None (the documented
        # invariant): a live stream batch always claims with its int
        # batch id, so a concurrent gc/compact on the same sink object
        # can never alias (and silently retake) a live batch's claim.
        # The _commit manifest still records committed_batch so the
        # replay guard is preserved.
        self._claim(new_snap, None)  # writer fence
        if replaced:
            df = df.repartition(
                _bucket_tasks(df.sparkSession, len(replaced)), "__bucket"
            )
        fields = self._write_buckets(df, new_snap, prev, replaced)
        self._commit(new_snap, prev, committed_batch, **fields, **changes)
        return new_snap

    def compact_buckets(self, spark: SparkSession, min_files: int = 2) -> list[int]:
        """Small-file compaction: rewrite every bucket holding more than
        ``min_files`` files as one file, all in one write job under a
        fresh snapshot with the usual manifest+pointer commit
        (crash-safe; readers never see a half-compacted state).
        Buckets already compact keep their existing files untouched.
        Returns the bucket ids rewritten.

        The rewrite preserves rows (no merge logic) — state equality is
        asserted by tests, and expire_snapshots later reclaims the
        superseded files."""
        committed_batch, committed_snap, manifest = self._maintenance_base(spark)
        if manifest is None:
            return []
        todo = sorted(
            int(b)
            for b, snap in manifest["buckets"].items()
            if len(store.data_files(self._bucket_path(snap, b))) > min_files
        )
        if not todo:
            return []
        rows = (
            self._state_reader(spark, manifest.get("schema"))
            .parquet(*[self._bucket_path(manifest["buckets"][str(b)], b) for b in todo])
            .withColumn("__bucket", self._bucket_col(manifest["n_buckets"]))
        )
        self._maintenance_commit(rows, committed_batch, committed_snap, manifest, todo)
        return todo

    def rebucket(self, spark: SparkSession, n_buckets_new: int) -> int:
        """PARTITION EVOLUTION (Iceberg bucket-spec evolution parity):
        rewrite the whole state into a new bucket count under one
        manifest-fenced snapshot commit.  Needed when a table outgrows
        its sizing — one bucket must stay one read split, so a table
        that starts at one bucket needs thousands at 100 TB.  A sink
        sized to its data (``n_buckets=None``) calls this itself,
        doubling once a rewritten bucket outgrows
        ``spark.sql.files.maxPartitionBytes``; with a fixed count it
        runs only when called.  It never shrinks a table.  The
        key→bucket map is pinned by the manifest, so this is the ONLY
        way it changes; O(table) by necessity, but one bucket-aligned
        shuffle + write, no merge logic.  Crash-safe like every
        writer: data lands under the new snapshot dir first, the
        manifest+pointer swap publishes it atomically.

        Invariants preserved across the boundary:
        - CDF continuity: rows are identical and no order-by advances,
          so ``changes_between`` spanning the rebucket emits NOTHING
          (the compaction invariant; the diff reads ALL previous
          buckets for this commit since bucket ids changed meaning).
        - Time travel: older snapshots read their own manifests, each
          carrying its own n_buckets.
        - Pruning: the old map's bloom filters and zone maps are
          dropped (reusing them would prune wrong buckets) and rebuilt
          under the new map by the rewrite itself — blooms observed by
          the write job, zones folded from the written footers — so
          lookups keep their pruning across the boundary.

        Returns the new snapshot number (or the current one when the
        count is already ``n_buckets_new`` — no empty commit)."""
        if n_buckets_new < 1:
            raise ValueError(f"n_buckets_new must be >= 1, got {n_buckets_new}")
        committed_batch, committed_snap, manifest = self._maintenance_base(spark)
        if manifest is None:
            raise ValueError("nothing to rebucket: empty target")
        if manifest["n_buckets"] == n_buckets_new:
            return committed_snap
        # tombstones ride along (current_state, not current_table):
        # their late-straggler protection must survive the rewrite
        state = self.current_state(spark).withColumn(
            "__bucket", self._bucket_col(n_buckets_new)
        )
        new_snap = self._maintenance_commit(
            state,
            committed_batch,
            committed_snap,
            # a new bucket map: no old bucket or stat carries over
            {
                **manifest,
                "n_buckets": n_buckets_new,
                "buckets": {},
                "blooms": None,
                "zones": None,
            },
            range(n_buckets_new),
        )
        self.n_buckets = n_buckets_new
        return new_snap

    def clone_to(self, target_dir: str) -> "SnapshotUpsertSink":
        """SHALLOW CLONE (Delta ``CREATE TABLE … SHALLOW CLONE`` /
        Iceberg snapshot-ref parity): a new, independently-evolvable
        sink over the CURRENT committed snapshot, sharing data files
        with the source via hardlinks — zero data copied, O(files)
        metadata work.  The share is safe by the engine's own
        immutability invariant: a published file is never mutated or
        renamed-over (rewrites land under fresh snapshot dirs), so
        writes to either table can only ADD files the other never
        references.  Unlinks (expire/GC) on one side just drop a link;
        the inode lives while any table references it.

        The clone starts life with exactly one retained snapshot —
        ``changes_between`` ranges reaching before the clone point
        refuse with the usual expired-manifest error (the clone has no
        pre-clone history, same semantics as an expired source).
        Falls back to copies on filesystems without hardlink support.

        The use case at 100 TB: a dev/test clone of a production table
        in seconds, or a frozen serving snapshot that keeps working
        while the source churns."""
        lineage, committed_batch, committed_snap = self.committed()
        manifest = self._read_manifest(committed_snap)
        if manifest is None:
            raise ValueError(
                "clone_to needs a committed, manifest-bearing source "
                f"(snapshot {committed_snap!r} has no manifest)"
            )
        if os.path.isdir(target_dir) and os.listdir(target_dir):
            # refuse ANY non-empty target, not just a published one: a
            # clone that crashed mid-link leaves files but no pointer,
            # and retrying over them would hit its own hardlinks
            # (FileExistsError → copy fallback → SameFileError) — an
            # unretryable mess; an unrelated directory must never be
            # silently merged into either
            raise ValueError(
                f"clone target {target_dir} already exists and is "
                "non-empty — remove it to (re)clone"
            )
        os.makedirs(target_dir, exist_ok=True)

        def _link_tree(src_dir: str, dst_dir: str) -> None:
            os.makedirs(dst_dir, exist_ok=True)
            for name in os.listdir(src_dir):
                s, t = os.path.join(src_dir, name), os.path.join(dst_dir, name)
                if os.path.isdir(s):
                    _link_tree(s, t)
                    continue
                try:
                    os.link(s, t)
                except OSError:  # cross-device / no-hardlink FS
                    shutil.copy2(s, t)

        for b, at_snap in manifest["buckets"].items():
            _link_tree(
                self._bucket_path(at_snap, b),
                store.bucket_path(target_dir, at_snap, b),
            )
        for s in manifest.get("deltas") or []:
            _link_tree(self._delta_path(s), store.delta_path(target_dir, s))
        # every table setting carries over, so the clone enforces the
        # same CHECK constraints and keeps the same pruning stats
        clone = copy.copy(self)
        clone.target_dir = target_dir
        clone.n_buckets = manifest["n_buckets"]
        vars(clone).pop("last_batch_timings", None)  # the source's batch
        # one manifest (the committed snapshot's — bucket map, schema,
        # watermark, blooms, zones, deltas, chain links all carry over;
        # its commit record is the source pointer's), then the pointer:
        # the clone is immediately readable and writable
        clone._commit(
            committed_snap,
            manifest,
            committed_batch,
            committed_lineage=lineage or "",
            parent=manifest.get("parent"),
            rebase_of=manifest.get("rebase_of"),
        )
        return clone

    # -- tombstone retention --------------------------------------------
    def _order_key(self) -> str:
        """First order_by column as a plain name — the axis GC
        watermarks are compared on."""
        first = self.order_by[0]
        if not isinstance(first, str):
            raise TypeError(
                "tombstone GC needs order_by[0] to be a column name, "
                f"got {type(first).__name__}"
            )
        return first

    def gc_tombstones(self, spark: SparkSession, watermark) -> int:
        """Expire delete tombstones older than ``watermark`` (compared
        on ``order_by[0]``), rewriting ONLY the buckets that hold
        expirable tombstones.  Commits a new snapshot whose manifest
        records the watermark; from then on :meth:`process_batch`
        drops incoming changes older than the watermark, so a GC'd
        key cannot be resurrected by a straggler — the tombstone's job
        is taken over by the late-data floor.

        Returns the number of tombstones expired.  The watermark must
        be monotone across calls (enforced); pick it as
        ``now - retention`` exactly like Iceberg's
        ``expire_snapshots(older_than)`` cutoff.
        """
        # normalize datetime/date watermarks to the ISO string form the
        # manifest stores BEFORE any comparison: the second GC call
        # reads `prev` back as a string, and `datetime < str` raises
        # TypeError.  ISO timestamps compare correctly lexicographically,
        # so all monotonicity checks run string-vs-string.
        watermark = _iso_watermark(watermark)
        committed_batch, committed_snap, manifest = self._maintenance_base(spark)
        if manifest is None:
            return 0
        prev = manifest.get("gc_watermark")
        if prev is not None and watermark < prev:
            raise ValueError(f"GC watermark must be monotone: {watermark} < {prev}")
        expired = (F.col(self.op_col) == "d") & (
            F.col(self._order_key()) < F.lit(watermark)
        )
        bucket = self._bucket_col(manifest["n_buckets"])
        # count + touched-bucket set in one observed scan of the state
        census = _observed_scan(
            self.current_state(spark).filter(expired).select(bucket.alias("__bucket")),
            F.count(F.lit(1)).alias("n"),
            F.collect_set("__bucket").alias("touched"),
        )
        n_expired, touched = census["n"], sorted(census["touched"])
        if not touched and prev is not None and not (prev < watermark):
            # nothing to expire and the floor is already at this level —
            # a commit would advance the snapshot number for no change
            return 0
        keep = None
        if touched:
            keep = (
                self._state_reader(spark, manifest.get("schema"))
                .parquet(
                    *[self._bucket_path(manifest["buckets"][str(b)], b) for b in touched]
                )
                .filter(~expired)
                .withColumn("__bucket", bucket)
            )
        # a bucket that held nothing but expired tombstones writes no
        # rows and leaves the map; with nothing touched this is a
        # watermark-only commit
        self._maintenance_commit(
            keep,
            committed_batch,
            committed_snap,
            manifest,
            touched,
            gc_watermark=watermark,
        )
        return n_expired


def _observed_scan(df: DataFrame, *aggs: Column) -> dict:
    """Evaluate the aggregates ``aggs`` over ``df`` in ONE stage: a
    ``noop`` write whose map tasks fold their rows into observed
    metrics, merged on the driver — no reduce stage and, with nothing to
    re-plan, no job of AQE's own."""
    observed = Observation()
    df.observe(observed, *aggs).write.format("noop").mode("overwrite").save()
    return observed.get


def _bucket_tasks(spark: SparkSession, n_buckets: int) -> int:
    """Tasks of a bucket-aligned shuffle over ``n_buckets`` buckets: one
    per bucket, up to the slot count — an extra task would only be an
    empty one, and each bucket still lands whole in one task."""
    return min(n_buckets, spark.sparkContext.defaultParallelism)


def _overwrite_writer(df: DataFrame):
    """``df.write`` in overwrite mode with the sink's committer
    settings.  Algorithm v2 commits task files straight into the
    destination (no job-commit rename pass) — crash-orphans are already
    handled by the static overwrite + the manifest fence, so v1's
    rename ceremony buys nothing here; measured ~0.14 s/batch.  No
    ``_SUCCESS`` marker: the manifest is the commit record, and each
    marker (+ its ``.crc``) is one more local file create."""
    return (
        df.write.mode("overwrite")
        .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    )


#: Spark's byte-size suffixes (JavaUtils.byteStringAs), lower-cased
_BYTE_UNITS = {
    "": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40, "tb": 1 << 40,
    "p": 1 << 50, "pb": 1 << 50,
}


def _conf_bytes(text: str) -> int:
    """A Spark byte-size conf value (``134217728b``, ``128MB``,
    ``4k``, ``4096``) in bytes."""
    m = re.fullmatch(r"\s*(\d+)\s*([a-z]*)\s*", text.lower())
    if m is None or m.group(2) not in _BYTE_UNITS:
        raise ValueError(f"not a byte size: {text!r}")
    return int(m.group(1)) * _BYTE_UNITS[m.group(2)]


def _footer_zones(bucket_dirs: dict[int, str], zone_cols: list[str]) -> dict:
    """Fold per-bucket [min, max] for ``zone_cols`` out of the parquet
    FOOTERS of freshly written bucket files — pyarrow metadata only,
    no data read, no Spark job.  v1 domain guard: integer and string
    columns only (floats refused — NaN-skipped row-group stats are the
    PARQUET-1222 silent-drop class; see the cdclog writer's identical
    gating).  A column absent from a file (schema evolution) or with
    absent stats contributes no bound — that bucket keeps NO zone for
    the column (always-scan, never a wrong prune)."""
    import pyarrow.parquet as pq
    import pyarrow.types as patypes

    out: dict[str, dict[str, list]] = {}
    for b, bdir in bucket_dirs.items():
        try:
            files = store.data_files(bdir)
        except FileNotFoundError:
            continue
        per_col: dict[str, list] = {}
        complete = dict.fromkeys(zone_cols, True)
        for path in files:
            meta = pq.ParquetFile(path).metadata
            schema = meta.schema.to_arrow_schema()
            idx = {
                name: i
                for i, name in enumerate(schema.names)
                if name in zone_cols
            }
            for colname in zone_cols:
                i = idx.get(colname)
                if i is None:
                    complete[colname] = False
                    continue
                t = schema.types[i]
                if not (
                    patypes.is_integer(t)
                    or patypes.is_string(t)
                    or patypes.is_large_string(t)
                ):
                    complete[colname] = False
                    continue
                for rg in range(meta.num_row_groups):
                    st = meta.row_group(rg).column(i).statistics
                    if st is None or not st.has_min_max:
                        # all-NULL row groups carry no stats — they
                        # hold no comparable values, so they bound
                        # nothing (NULL never matches a range)
                        continue
                    mn, mx = st.min, st.max
                    if isinstance(mn, bytes):
                        mn = mn.decode("utf-8", "surrogateescape")
                        mx = mx.decode("utf-8", "surrogateescape")
                    cur = per_col.get(colname)
                    if cur is None:
                        per_col[colname] = [mn, mx]
                    else:
                        cur[0] = min(cur[0], mn)
                        cur[1] = max(cur[1], mx)
        for colname, z in per_col.items():
            if complete[colname]:
                out.setdefault(colname, {})[str(b)] = z
    return out


def _iso_watermark(watermark):
    """Canonical manifest form of a GC watermark: datetime/date become
    ISO strings (``YYYY-MM-DD[ HH:MM:SS[.ffffff]]``), everything else
    passes through.  ISO-8601 strings order lexicographically the same
    as the instants they denote, so string-vs-string comparison is the
    one comparison that is safe both before AND after a manifest
    round-trip."""
    if hasattr(watermark, "isoformat"):
        return (
            watermark.isoformat(sep=" ")
            if hasattr(watermark, "time")
            else watermark.isoformat()
        )
    return watermark


_INT_WIDTH = {"byte": 0, "short": 1, "integer": 2, "long": 3}


def _widen_type(a, b):
    """Safe numeric widening for a name collision between commits:
    integer-chain (byte→short→int→long) and float→double — exactly the
    upcasts Spark's explicit-schema parquet reader performs on narrower
    files (verified: int32 files read as LongType, float as Double).
    Returns the wider type name, or None if the pair isn't widenable."""
    if a == b:
        return a
    if a in _INT_WIDTH and b in _INT_WIDTH:
        return a if _INT_WIDTH[a] >= _INT_WIDTH[b] else b
    if {a, b} == {"float", "double"}:
        return "double"
    return None


def _union_schema_json(prev_json: str | None, new_schema) -> str | None:
    """Union-by-name of the carried state schema and this commit's
    written schema (minus the __bucket partition column), every field
    forced nullable — the schema an explicit-schema read needs to
    reproduce what ``mergeSchema=true`` would compute, without the
    per-batch footer-merge job.  A name→type collision WIDENS when the
    pair is safely widenable (int chain, float→double): the explicit
    reader upcasts the older narrow files, so tracking survives the
    most common schema evolution (int column outgrows int32).
    Non-widenable collisions return None — the caller drops tracking
    and the mergeSchema fallback surfaces the conflict loudly at the
    next read rather than silently corrupting values."""
    new_fields = {}
    for f in new_schema.jsonValue()["fields"]:
        if f["name"] == "__bucket":
            continue
        f = dict(f, nullable=True)
        new_fields[f["name"]] = f
    if prev_json is None:
        return json.dumps({"type": "struct", "fields": list(new_fields.values())})
    out, seen = [], set()
    for f in json.loads(prev_json)["fields"]:
        nf = new_fields.get(f["name"])
        if nf is not None and nf["type"] != f["type"]:
            if not (
                isinstance(nf["type"], str) and isinstance(f["type"], str)
            ):
                return None  # nested/complex collision: no widening
            wide = _widen_type(f["type"], nf["type"])
            if wide is None:
                return None
            nf = dict(nf, type=wide)
        out.append(nf or f)
        seen.add(f["name"])
    out.extend(f for n, f in new_fields.items() if n not in seen)
    return json.dumps({"type": "struct", "fields": out})


def _checkpoint_lineage(checkpoint_dir: str) -> str:
    """Stable identity for a checkpoint directory: created with the
    checkpoint, destroyed with it.

    For non-local checkpoint URIs (s3a://, hdfs://, …) the local
    marker-file scheme doesn't apply; the URI itself serves as the
    lineage.  Limitation: deleting and recreating a REMOTE checkpoint
    at the same URI keeps the same lineage, so such a reset should use
    a new checkpoint path (standard practice) or a fresh target."""
    import uuid
    from urllib.parse import urlparse

    if urlparse(checkpoint_dir).scheme not in ("", "file"):
        return checkpoint_dir
    path = checkpoint_dir[len("file://"):] if checkpoint_dir.startswith("file://") else checkpoint_dir
    os.makedirs(path, exist_ok=True)
    marker = os.path.join(path, "_LINEAGE")
    try:
        with open(marker) as f:
            return f.read().strip()
    except FileNotFoundError:
        lineage = uuid.uuid4().hex
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            f.write(lineage)
        os.replace(tmp, marker)
        return lineage


def cdc_pipeline(
    changes_stream: DataFrame,
    sink: SnapshotUpsertSink,
    checkpoint_dir: str,
    trigger: dict | None = None,
    retry_attempts: int = 3,
):
    """Wire a change stream into the sink under a checkpoint.

    ``trigger`` defaults to ``availableNow`` (drain-and-stop, used in
    tests); pass ``{"processingTime": "60 seconds"}`` to mirror the
    reference's flush interval (spark_batch.py:327).

    The sink's replay guard is scoped to this checkpoint's identity: a
    marker file inside the checkpoint directory names the lineage, so
    deleting/recreating the checkpoint (which restarts batch numbering
    at 0) reprocesses instead of silently skipping "already seen"
    batch ids.  Reprocessing is safe — the union+window merge is
    last-write-wins-idempotent.
    """
    sink.lineage = _checkpoint_lineage(checkpoint_dir)
    body = with_retry(sink.process_batch, attempts=retry_attempts)
    writer = (
        changes_stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint_dir)
    )
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()


def staged_cdc_pipeline(
    changes_stream: DataFrame,
    sink: SnapshotUpsertSink,
    branch: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    retry_attempts: int = 3,
):
    """`cdc_pipeline`, staged: every micro-batch commits to ``branch``
    via ``stage_batch`` — durable, replay-guarded, but INVISIBLE to
    main readers until ``publish_branch``.  The write-audit-publish
    ingest posture: drain a stream into the branch (availableNow),
    audit ``table_at_ref(branch)`` / ``quarantine_table``, then
    publish or abort.  The branch must already exist
    (``create_branch``); checkpoint lineage rules are identical to
    cdc_pipeline, so a crashed drain resumes onto the same branch."""
    sink.lineage = _checkpoint_lineage(checkpoint_dir)

    def body(batch_df, batch_id):
        sink.stage_batch(branch, batch_df, batch_id)

    writer = (
        changes_stream.writeStream.foreachBatch(
            with_retry(body, attempts=retry_attempts)
        ).option("checkpointLocation", checkpoint_dir)
    )
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()
