"""Table-maintenance operators (SURVEY §2.11 M1–M3).

With an Iceberg catalog these are the stock procedures the reference
calls (spark_batch.py:408-432) — with its invalid
``older_than => TIMESTAMP '{days} days'`` literal fixed to a real
timestamp expression.  Without a catalog, the engine maintains its own
snapshot sink: version expiry = the same retention semantics
(keep-last-N + age cutoff), compaction = rewrite to target file count.
"""

from __future__ import annotations

import logging
import os
import shutil

from pyspark.sql import SparkSession

from lakehouse_cdc_spark.streaming import store

logger = logging.getLogger(__name__)


def compact_table(spark: SparkSession, path: str, target_files: int = 1) -> None:
    """Small-file compaction for a parquet table (M1,
    rewrite_data_files(min-input-files=5) equivalent): rewrite to
    ``target_files`` files, then swap.

    The two renames leave a crash window where only ``<path>.old``
    exists; :func:`remove_orphan_files` recovers it (restores
    ``.old`` → ``path`` when the table is missing) rather than
    deleting it.  A filesystem without atomic dir rename (S3) should
    use the snapshot-pointer scheme of SnapshotUpsertSink or Iceberg's
    rewrite procedure instead.
    """
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + ".compacting"
    df.repartition(target_files).write.mode("overwrite").parquet(tmp)
    back = path.rstrip("/") + ".old"
    os.rename(path, back)
    os.rename(tmp, path)
    shutil.rmtree(back)


def _named_ref_roots(refs: dict) -> set[int]:
    """Snapshots pinned by the sink's named refs: every tag, plus a
    WAP branch's whole base..head chain (staged history must stay
    time-travelable until published or aborted)."""
    roots: set[int] = {int(s) for s in refs["tags"].values()}
    for b in refs["branches"].values():
        roots.update(range(int(b["base"]), int(b["snapshot"]) + 1))
    return roots


def _cursor_pins(refs: dict, versions: list[int]) -> set[int]:
    """Snapshots pinned by registered feed cursors: everything at or
    above the minimum acked floor — a cursor's next
    ``changes_between(acked, head)`` needs the base manifest AND every
    manifest in the range (a never-acked cursor, acked=-1, pins all of
    ``versions``)."""
    cursors = refs["cursors"]
    if not cursors:
        return set()
    floor = min(int(a) for a in cursors.values())
    return {v for v in versions if v >= floor}


def _manifest_closure(target_dir: str, seed: set[int]) -> set[int]:
    """Close a keep set over manifest references: every retained
    snapshot must stay fully readable (time travel), so the bucket
    dirs (and MOR delta dirs) each retained manifest references join
    the set, iterated to a fixed point — a kept referenced snapshot's
    manifest may reference further snapshots."""
    keep = set(seed)
    while True:
        referenced = set()
        for v in keep:
            m = store.read_manifest(target_dir, v)
            if m is not None:
                referenced.update(int(s) for s in m["buckets"].values())
                referenced.update(int(s) for s in m.get("deltas") or [])
        if referenced <= keep:
            return keep
        keep |= referenced


def _claimed(target_dir: str, versions: list[int]) -> set[int]:
    """The snapshot dirs in ``versions`` a writer claim file fences."""
    return set(versions) & set(store.list_claims(target_dir))


def _retention(target_dir: str, refs: dict, retain_last: int) -> tuple:
    """The one retention keep set, shared by :func:`expire_snapshots`,
    its dry run :func:`expiry_safety` and :func:`retention_report`, so
    the dry run cannot drift from the real run.

    Returns ``(versions, committed, baseline, pins, keep)``:

    - ``baseline`` — the policy alone: the ``retain_last`` newest
      snapshots plus the committed one;
    - ``pins`` — the snapshots each pin kind holds: ``"ref"`` (tags,
      branch chains), ``"claim"`` (a live claim marks an IN-FLIGHT
      writer's directory — data lands before its manifest/ref record
      exists anywhere expiry can see; a CRASHED writer's claim is
      recover_interrupted_commit's to resolve, not expiry's) and
      ``"cursor"`` (registered feed cursors' acked floors);
    - ``keep`` — baseline and every pin, closed over manifest
      references: every retained snapshot must stay fully readable
      (time travel), not just the committed one."""
    versions = store.list_snapshots(target_dir)
    committed = store.read_pointer(target_dir)[2]
    baseline = set(versions[-retain_last:])
    if committed is not None:
        baseline.add(committed)
    pins = {
        "ref": _named_ref_roots(refs),
        "claim": _claimed(target_dir, versions),
        "cursor": _cursor_pins(refs, versions),
    }
    keep = _manifest_closure(target_dir, baseline.union(*pins.values()))
    return versions, committed, baseline, pins, keep


def _evict_stale_cursors(
    target_dir: str, refs: dict, ttl_seconds: float
) -> list[str]:
    """Drop registered cursors whose last touch (ack/register/reset —
    ``cursors_meta``) is older than ``ttl_seconds``, the
    ``offsets.retention`` contract of Kafka consumer groups: an
    abandoned consumer must not pin history forever.  An evicted
    consumer that later wakes finds its pin gone; if retention has
    deleted manifests its next range needs, the read FAILS LOUDLY on
    the retained-manifest check (the same documented contract as an
    unregistered cursor), and its next ack re-registers it.  Cursors
    with no recorded timestamp (registered before cursors_meta
    existed) are NEVER evicted — unknown age is not proof of
    abandonment — but are warned about so operators can reset or
    unregister them.  Mutates ``refs``; returns evicted names."""
    import time

    evicted = []
    for name in sorted(refs["cursors"]):
        touched = refs["cursors_meta"].get(name)
        if touched is None:
            logger.warning(
                "expire_snapshots(%s): cursor %r has no last-touch "
                "timestamp (legacy registration) — cannot apply "
                "cursor_ttl; ack, reset, or unregister it",
                target_dir,
                name,
            )
            continue
        age = time.time() - float(touched)
        if age > ttl_seconds:
            refs["cursors"].pop(name)
            refs["cursors_meta"].pop(name, None)
            evicted.append(name)
            logger.warning(
                "expire_snapshots(%s): evicted cursor %r (last touch "
                "%.0fs ago > ttl %.0fs) — its retention pin is gone; "
                "a late consumer will fail loudly on expired history",
                target_dir,
                name,
                age,
                ttl_seconds,
            )
    return evicted


def expire_snapshots(
    target_dir: str,
    retain_last: int = 5,
    cursor_ttl_seconds: float | None = None,
) -> list[int]:
    """Snapshot expiry for a SnapshotUpsertSink directory (M2,
    expire_snapshots(retain_last=5) semantics — spark_batch.py:424).
    Never removes the committed snapshot, NOR any snapshot directory
    the committed manifest still references for an untouched bucket
    (the bucketed layout reuses old snapshots' files, Iceberg-manifest
    style).  Returns expired snapshot numbers.

    ``cursor_ttl_seconds`` opts into the Kafka ``offsets.retention``
    contract: registered cursors whose last ack/register/reset is
    older than the TTL are UNREGISTERED (under the same refs lock)
    before pins are computed, so an abandoned consumer cannot disable
    retention forever — see :func:`_evict_stale_cursors` for the
    loud-failure contract its owner inherits.  Default None keeps
    pins unconditional.

    The whole pass runs under the sink's refs flock: the keep set is
    computed FROM the refs document (tags, branches, cursor pins), so
    a cursor registering or a branch staging concurrently with an
    unlocked expiry could register against a refs state the expiry no
    longer honors and have its history deleted in the same pass —
    under the lock, registration orders strictly before or after the
    deletion."""
    with store.refs_lock(target_dir):
        refs = store.read_refs(target_dir)
        if cursor_ttl_seconds is not None and _evict_stale_cursors(
            target_dir, refs, cursor_ttl_seconds
        ):
            # persist the eviction atomically BEFORE computing pins,
            # inside the same critical section — a crash between
            # eviction and deletion just re-evicts next run
            store.write_refs(target_dir, refs)
        versions, _, baseline, pins, keep = _retention(
            target_dir, refs, retain_last
        )
        # observability: when a cursor's acked floor is the BINDING
        # constraint (snapshots survive that every other rule would
        # drop), say which cursor and how stale — a registered
        # consumer that never acks (acked=-1) silently disables
        # retention otherwise (retention_report gives the full view)
        if refs["cursors"]:
            no_cursor = baseline | pins["ref"] | pins["claim"]
            only_cursor = sorted(keep - _manifest_closure(target_dir, no_cursor))
            if only_cursor:
                floor = min(int(a) for a in refs["cursors"].values())
                binding = sorted(
                    n for n, a in refs["cursors"].items() if int(a) == floor
                )
                import time as _time

                ages = {
                    n: (
                        round(_time.time() - refs["cursors_meta"][n], 1)
                        if n in refs["cursors_meta"]
                        else None
                    )
                    for n in binding
                }
                logger.warning(
                    "expire_snapshots(%s): cursor pin is the binding "
                    "retention constraint — cursors %s (acked floor "
                    "%d, last-touch age seconds %s) keep snapshots %s "
                    "that would otherwise expire; unregister abandoned "
                    "consumers or advance their acks",
                    target_dir,
                    binding,
                    floor,
                    ages,
                    only_cursor,
                )
        # under the lock only the METADATA deletions happen (manifest
        # unlink — fast, what readers/refs actually resolve against);
        # the data-directory rmtrees run after release so a large
        # expiry never stalls concurrent commits, stages, or cursor
        # acks on the refs lock.  Post-release the doomed dirs are
        # unreachable: no retained manifest references them, and a
        # ref registered after release resolves against the already-
        # shrunk manifest set.
        expired = []
        for v in versions:
            if v not in keep:
                stale_manifest = store.manifest_path(target_dir, v)
                if os.path.exists(stale_manifest):
                    os.remove(stale_manifest)
                expired.append(v)
    for v in expired:
        shutil.rmtree(store.snapshot_path(target_dir, v), ignore_errors=True)
    return expired


def expiry_safety(target_dir: str, retain_last: int = 5) -> list[dict]:
    """DRY-RUN of :func:`expire_snapshots` — the operational dual of
    ``changes_between``'s expired-base refusal: BEFORE running an
    expiry, report exactly which snapshots it would remove and which
    time-travel / change-feed capabilities die with them.  Nothing is
    deleted.

    Returns one dict per snapshot directory, ascending:

    - ``snapshot``;
    - ``would_expire`` — True iff this run would remove it.  NOT
      simply "older than the last N": the keep set is closed over
      manifest references, so a snapshot whose bucket files the
      committed state (or any retained snapshot) still reads survives
      any retain_last — bucketed layouts share files across snapshots,
      Iceberg-manifest style;
    - ``is_committed`` — the live pointer (never expires);
    - ``referenced_by_retained`` — kept because a retained manifest
      still references its bucket/delta dirs;
    - ``state_readable_after`` — ``state_at(s)`` still serveable after
      the expiry (requires s's own manifest + every referenced dir);
    - ``cdf_base_usable_after`` — ``changes_between(s, ·)`` still
      accepts s as the range base after the expiry (requires s's
      manifest retained; an expired base is REFUSED, never silently
      degraded to "everything is new").

    A feed consumer's safety contract is one query away: expiry is
    safe iff no cursor/stream offset lies below the oldest surviving
    ``cdf_base_usable_after`` snapshot.  :func:`retention_report` is
    the per-PIN dual of this per-SNAPSHOT view: it names which
    tag/branch/cursor/claim is holding each survivor."""
    versions, committed_snap, baseline, pins, keep = _retention(
        target_dir, store.read_refs(target_dir), retain_last
    )
    base_keep = baseline.union(*pins.values())
    return [
        {
            "snapshot": v,
            "would_expire": v not in keep,
            "is_committed": v == committed_snap,
            "referenced_by_retained": v in keep and v not in base_keep,
            "state_readable_after": v in keep,
            "cdf_base_usable_after": v in keep,
        }
        for v in versions
    ]


def retention_report(target_dir: str, retain_last: int = 5) -> list[dict]:
    """Per-PIN retention visibility — the operator's answer to "what
    is holding my snapshots, and is it dead?".  The pin rules that
    make retention SAFE (tag/branch refs, registered cursor floors,
    live writer-claim files) can also make it SILENT: a crashed
    writer's claim or an abandoned named cursor (acked=-1) pins
    snapshots forever with nothing in ``expire_snapshots``'s return
    value saying why.  This report names every pin, what it holds,
    and how stale it is.  Nothing is deleted or locked.

    Returns one dict per pin, sorted by (kind, name):

    - ``kind`` — ``"tag"`` | ``"branch"`` | ``"cursor"`` |
      ``"claim"`` (a live writer claim file: in-flight or crashed
      writer);
    - ``name`` — ref/cursor name; for claims the owner string from
      the claim file (lineage[@wap:branch]);
    - ``floor`` — lowest snapshot the pin holds (a cursor's acked
      floor, may be -1 = never acked = pins everything; a tag's
      snapshot; a branch's base; a claim's snapshot number);
    - ``lag`` — committed_snapshot - floor: how far behind the live
      pointer the pin sits (0 for a caught-up cursor; None when
      nothing is committed yet);
    - ``extra_kept`` — how many snapshot dirs survive ONLY because of
      this pin, vs. this run's baseline policy (retain_last + the
      committed pointer + manifest closure, no pins at all).  The
      cost of the pin in snapshots; 0 = currently free;
    - ``age_seconds`` — staleness signal: for cursors, seconds since
      the cursor last touched its registration (ack/register/reset —
      ``cursors_meta``; None for registrations written before the
      timestamp existed); for claims, seconds since the claim file's
      mtime (a large value = crashed writer, recover it); None for
      tags/branches (immutable by design, age is not a health
      signal)."""
    import time

    refs = store.read_refs(target_dir)
    versions, committed_snap, baseline, _, _ = _retention(
        target_dir, refs, retain_last
    )
    baseline_closed = _manifest_closure(target_dir, baseline)
    now = time.time()

    def _extra(pinned: set[int]) -> int:
        return len(
            _manifest_closure(target_dir, baseline | pinned) - baseline_closed
        )

    def _lag(floor: int):
        return None if committed_snap is None else committed_snap - floor

    rows: list[dict] = []
    for name, snap in refs["tags"].items():
        rows.append(
            {
                "kind": "tag",
                "name": name,
                "floor": int(snap),
                "lag": _lag(int(snap)),
                "extra_kept": _extra({int(snap)}),
                "age_seconds": None,
            }
        )
    for name, b in refs["branches"].items():
        held = set(range(int(b["base"]), int(b["snapshot"]) + 1))
        rows.append(
            {
                "kind": "branch",
                "name": name,
                "floor": int(b["base"]),
                "lag": _lag(int(b["base"])),
                "extra_kept": _extra(held),
                "age_seconds": None,
            }
        )
    for name, acked in refs["cursors"].items():
        floor = int(acked)
        held = {v for v in versions if v >= floor}
        touched = refs["cursors_meta"].get(name)
        rows.append(
            {
                "kind": "cursor",
                "name": name,
                "floor": floor,
                "lag": _lag(floor),
                "extra_kept": _extra(held),
                "age_seconds": (
                    None if touched is None else max(0.0, now - float(touched))
                ),
            }
        )
    # scan claim FILES, not v= directories: a writer claims the lane
    # BEFORE any data lands (and create_branch takes a reservation
    # claim for a not-yet-staged snapshot), so a crash can leave a
    # claim with no v=N dir — the exact dead-writer pin this report
    # exists to surface; recover_interrupted_commit scans the same way
    for v in store.list_claims(target_dir):
        claim = store.read_claim(target_dir, v)
        try:
            mtime = os.path.getmtime(store.claim_path(target_dir, v))
        except FileNotFoundError:
            continue  # released between listing and stat
        if claim is None:
            continue  # released between listing and open
        owner = claim[0]
        rows.append(
            {
                "kind": "claim",
                "name": owner,
                "floor": v,
                "lag": _lag(v),
                "extra_kept": _extra({v}) if v in set(versions) else 0,
                "age_seconds": max(0.0, now - mtime),
            }
        )
    rows.sort(key=lambda r: (r["kind"], r["name"]))
    return rows


def remove_orphan_files(target_dir: str) -> list[str]:
    """Orphan-file removal (M3) with crash recovery: ``*.compacting``
    and ``*.tmp`` debris is always deleted, but a ``<table>.old``
    backup is RESTORED (renamed back) when the table itself is missing
    — it is then the only surviving copy of the data (compact_table
    crashed between its two renames); it is deleted only when the
    table exists."""
    actions = []
    for name in sorted(os.listdir(target_dir)):
        p = os.path.join(target_dir, name)
        if name.endswith((".compacting", ".tmp")):
            (shutil.rmtree if os.path.isdir(p) else os.remove)(p)
            actions.append(name)
        elif name.endswith(".old"):
            original = p[: -len(".old")]
            if os.path.exists(original):
                (shutil.rmtree if os.path.isdir(p) else os.remove)(p)
                actions.append(name)
            else:
                os.rename(p, original)  # crash recovery, not deletion
                actions.append(f"{name} -> restored")
    return actions


# -- Iceberg-procedure passthroughs (used when the runtime jar is present) --

def iceberg_rewrite_data_files(spark: SparkSession, tbl: str, min_input_files: int = 5):
    """M1 (spark_batch.py:421)."""
    return spark.sql(
        f"CALL iceberg.system.rewrite_data_files(table => '{tbl}', "
        f"options => map('min-input-files','{min_input_files}'))"
    )


def iceberg_expire_snapshots(spark: SparkSession, tbl: str, days: int = 30,
                             retain_last: int = 5):
    """M2 — with the reference's invalid ``TIMESTAMP '{days} days'``
    literal (spark_batch.py:424) fixed.  Iceberg's CALL grammar only
    accepts constant arguments (no ``current_timestamp()``
    arithmetic), so the cutoff is computed driver-side and embedded
    as a timestamp literal — rendered in the SESSION time zone, since
    that is how Spark interprets a zone-naive literal."""
    import datetime
    from zoneinfo import ZoneInfo

    session_tz = ZoneInfo(spark.conf.get("spark.sql.session.timeZone", "UTC"))
    cutoff = datetime.datetime.now(session_tz) - datetime.timedelta(days=days)
    literal = cutoff.strftime("%Y-%m-%d %H:%M:%S")
    return spark.sql(
        f"CALL iceberg.system.expire_snapshots(table => '{tbl}', "
        f"older_than => TIMESTAMP '{literal}', "
        f"retain_last => {retain_last})"
    )


def iceberg_remove_orphan_files(spark: SparkSession, tbl: str):
    """M3 (spark_batch.py:427)."""
    return spark.sql(
        f"CALL iceberg.system.remove_orphan_files(table => '{tbl}')"
    )
