"""The snapshot sink's on-disk format: the manifest/refs store.

Every file of a :class:`~lakehouse_cdc_spark.streaming.pipeline.SnapshotUpsertSink`
target directory is named here, and only here.  This module also does
every durable JSON or pointer write, reads manifests and refs, and
lists snapshots, manifests and claims.  The sink, ``maintenance`` and
``feed`` call it and never spell a file name themselves, so the layout
has exactly one definition.

Layout of ``<target>``::

    _VERSION                commit pointer "<lineage>:<batch_id>:<snapshot>"
                            (lineage may be empty, and may itself hold ':')
    _MANIFEST_<n>.json      snapshot n's manifest: {"n_buckets": K,
                            "buckets": {k: n'}} maps every bucket to the
                            snapshot dir holding its CURRENT data (n' <= n:
                            untouched buckets keep their old files), plus
                            the commit record (committed_lineage,
                            committed_batch, parent) and the optional
                            gc_watermark, schema, deltas, blooms, zones
                            and rebase_of fields
    _REFS.json              named refs: tags, write-audit-publish
                            branches, registered feed cursors
    _REFS.json.lock         flock file serializing refs read-modify-writes
    v=<n>.claim             O_EXCL writer fence for snapshot n, holding
                            "<owner>:<batch_id>" (owner = lineage, plus
                            "@wap:<branch>" for staged commits)
    v=<n>.claim.upgrade     O_EXCL fence for upgrading a branch's lane
                            reservation into its first staged claim
    v=<n>/__bucket=<k>/     bucket k's full state as rewritten at n
                            (touched buckets only)
    v=<n>/__delta/          merge-on-read: the raw change batch committed
                            at n, not yet folded into the buckets
    _quarantine/            CHECK-violating rows (append-only parquet)
    <file>.tmp              an in-flight durable write (crash debris;
                            ``maintenance.remove_orphan_files`` removes it)

Durability: a JSON document or the pointer is written to ``.tmp``,
fsynced and renamed over its target; the pointer write also fsyncs the
directory so the rename itself survives power loss.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os

_POINTER = "_VERSION"
_REFS = "_REFS.json"
_MANIFEST = ("_MANIFEST_", ".json")
_SNAPSHOT = ("v=", "")
_CLAIM = ("v=", ".claim")
_UPGRADE = ("v=", ".claim.upgrade")
_BUCKET = ("__bucket=", "")

#: where a merge-on-read delta file's snapshot number sits in its path,
#: anchored to the path TAIL: a target that itself lies under another
#: sink's ``v=N/__delta/`` must not stamp its rows with the outer number
DELTA_FILE_SNAPSHOT_RE = r"/v=(\d+)/__delta/[^/]+$"


# -- names --------------------------------------------------------------
def pointer_path(target_dir: str) -> str:
    return os.path.join(target_dir, _POINTER)


def manifest_path(target_dir: str, snapshot: int) -> str:
    return os.path.join(target_dir, f"{_MANIFEST[0]}{snapshot}{_MANIFEST[1]}")


def refs_path(target_dir: str) -> str:
    return os.path.join(target_dir, _REFS)


def snapshot_path(target_dir: str, snapshot: int) -> str:
    return os.path.join(target_dir, f"{_SNAPSHOT[0]}{snapshot}")


def bucket_path(target_dir: str, snapshot: int, bucket: int) -> str:
    return os.path.join(
        snapshot_path(target_dir, snapshot), f"{_BUCKET[0]}{int(bucket)}"
    )


def delta_path(target_dir: str, snapshot: int) -> str:
    return os.path.join(snapshot_path(target_dir, snapshot), "__delta")


def claim_path(target_dir: str, snapshot: int) -> str:
    return os.path.join(target_dir, f"{_CLAIM[0]}{snapshot}{_CLAIM[1]}")


def upgrade_marker_path(target_dir: str, snapshot: int) -> str:
    return os.path.join(target_dir, f"{_UPGRADE[0]}{snapshot}{_UPGRADE[1]}")


def quarantine_path(target_dir: str) -> str:
    return os.path.join(target_dir, "_quarantine")


# -- listings -----------------------------------------------------------
def _numbered(directory: str, name: tuple[str, str]) -> list[int]:
    """Ascending numbers ``n`` of the entries ``<prefix><n><suffix>``."""
    prefix, suffix = name
    out = []
    for entry in os.listdir(directory):
        if entry.startswith(prefix) and entry.endswith(suffix):
            num = entry[len(prefix) : len(entry) - len(suffix)]
            if num.isdigit():
                out.append(int(num))
    return sorted(out)


def list_snapshots(target_dir: str) -> list[int]:
    """Snapshot numbers with a ``v=<n>`` directory."""
    return _numbered(target_dir, _SNAPSHOT)


def list_manifests(target_dir: str) -> list[int]:
    return _numbered(target_dir, _MANIFEST)


def list_claims(target_dir: str) -> list[int]:
    return _numbered(target_dir, _CLAIM)


def list_upgrade_markers(target_dir: str) -> list[int]:
    return _numbered(target_dir, _UPGRADE)


def written_buckets(target_dir: str, snapshot: int) -> set[int]:
    """Bucket ids whose partition dirs materialized in a snapshot write
    (an empty merged bucket writes no dir)."""
    return set(_numbered(snapshot_path(target_dir, snapshot), _BUCKET))


def data_files(directory: str) -> list[str]:
    """Sorted paths of the parquet files directly inside a bucket or
    delta dir."""
    return [
        os.path.join(directory, f)
        for f in sorted(os.listdir(directory))
        if f.endswith(".parquet")
    ]


# -- durable writes -----------------------------------------------------
def write_durable(path: str, text: str, sync_dir: bool = False) -> None:
    """Atomically replace ``path`` with ``text``: write ``.tmp``, fsync
    (survive power loss, not just a crash), rename over.  ``sync_dir``
    also fsyncs the parent directory so the rename itself is durable."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    if sync_dir:
        dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)


def write_json(path: str, doc) -> None:
    write_durable(path, json.dumps(doc))


# -- pointer ------------------------------------------------------------
def read_pointer(target_dir: str) -> tuple[str | None, int | None, int | None]:
    """(lineage, batch_id, snapshot) of the committed state; all None
    when nothing is committed or the pointer is unreadable."""
    try:
        with open(pointer_path(target_dir)) as f:
            raw = f.read().strip()
    except FileNotFoundError:
        return (None, None, None)
    # rsplit: the lineage itself may contain ':' (a checkpoint URI)
    parts = raw.rsplit(":", 2)
    try:
        if len(parts) == 3:
            return (parts[0] or None, int(parts[1]), int(parts[2]))
    except ValueError:
        pass
    return (None, None, None)


def write_pointer(target_dir: str, lineage, batch_id, snapshot: int) -> None:
    write_durable(
        pointer_path(target_dir),
        f"{lineage or ''}:{batch_id}:{snapshot}",
        sync_dir=True,
    )


# -- manifests ----------------------------------------------------------
def read_manifest(target_dir: str, snapshot: int) -> dict | None:
    try:
        with open(manifest_path(target_dir, snapshot)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def write_manifest(target_dir: str, snapshot: int, manifest: dict) -> None:
    write_json(manifest_path(target_dir, snapshot), manifest)


# -- refs ---------------------------------------------------------------
def read_refs(target_dir: str) -> dict:
    """The refs document with every category present and legacy
    single-lane branch refs normalized (see ``SnapshotUpsertSink.refs``
    for the shape)."""
    try:
        with open(refs_path(target_dir)) as f:
            doc = json.load(f)
    except FileNotFoundError:
        doc = {}
    for key in ("tags", "branches", "cursors", "cursors_meta"):
        doc.setdefault(key, {})
    for b in doc["branches"].values():
        # legacy single-lane branch refs: staged snapshots were the
        # contiguous base+1..head range and the reservation base+1
        if "snaps" not in b:
            b["snaps"] = list(range(int(b["base"]) + 1, int(b["snapshot"]) + 1))
        if "reserved" not in b:
            b["reserved"] = int(b["base"]) + 1
    return doc


def write_refs(target_dir: str, doc: dict) -> None:
    write_json(refs_path(target_dir), doc)


@contextlib.contextmanager
def refs_lock(target_dir: str):
    """Exclusive advisory lock serializing every read-modify-write of
    the refs document.  The refs file is one whole document, so two
    concurrent unlocked updates (two branches' ref advances, two
    ``create_branch`` calls, a publish racing a stage, a cursor ack
    racing an expiry) would lose one writer's change — and a lost
    ``snaps`` entry later makes publish/abort treat that recorded
    staged snapshot as a crashed stage and delete its data.  The O_EXCL
    claim files fence the DATA directories; this lock fences the refs
    document those claims are reconciled against.

    ``flock`` rather than an O_EXCL lock file: the kernel releases it
    on ANY process death (SIGKILL included), so a killed writer can
    never wedge the table the way a leftover lock file would.  The sink
    already assumes a POSIX filesystem for O_EXCL claims and atomic
    renames; flock holds on the same class of filesystems."""
    fd = os.open(refs_path(target_dir) + ".lock", os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        try:
            fcntl.flock(fd, fcntl.LOCK_UN)
        finally:
            os.close(fd)


# -- claims -------------------------------------------------------------
def read_claim(target_dir: str, snapshot: int) -> tuple[str, str] | None:
    """(owner, batch_id text) of a claim file, or None when it is gone.
    ``rpartition``: the owner may itself contain ':'."""
    try:
        with open(claim_path(target_dir, snapshot)) as f:
            raw = f.read()
    except FileNotFoundError:
        return None
    owner, _, batch = raw.rpartition(":")
    return owner, batch
