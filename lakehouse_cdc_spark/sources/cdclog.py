"""Custom Python Data Source (Spark 4 ``pyspark.sql.datasource`` API):
a deterministic Debezium-style CDC change log.

The reference's change stream arrives via Kafka+Debezium
(``src/processor/spark_batch.py:304-406``); this sandbox has no
broker, so the engine ships a first-class Spark SOURCE instead of a
driver loop.  Every row derives purely from its offset (arithmetic +
md5 — the SRP-hyperplane reproducibility trick), so a DuckDB oracle
regenerates the identical log from ``generate_series`` and the whole
decode→classify→compact pipeline stays on the correctness gate.

Capabilities:

- **Batch read, partitioned generation** — one ``InputPartition`` per
  log partition (offset round-robin), rows generated lazily on
  executors; nothing materializes on the driver at any row count.
- **Filter pushdown** (``pushFilters``, Spark 4.1): ``EqualTo`` on
  ``part`` prunes whole input partitions before a single row is
  generated; ``>,>=,<,<=`` bounds on ``offset`` narrow each
  partition's generation range arithmetically.  The handled filters
  are consumed (not re-evaluated by Spark) — the Python-source
  equivalent of parquet's PushedFilters.
- **Streaming read** (``SimpleDataSourceStreamReader``) — replays the
  same log in bounded micro-batches with offset-range tracking, so
  the CDC pipeline's streaming form consumes the identical envelope
  stream the batch form scans.
- **Batch + streaming WRITE** (``DataSourceArrowWriter`` /
  ``DataSourceStreamArrowWriter``) — ``df.write.format("cdclog")
  .save(path)`` lands a manifested parquet change-log directory under
  a real two-phase commit (executor tmp files → driver rename +
  atomic manifest), with append/overwrite modes, abort cleanup,
  committed-only reads (``read_committed_log``), and per-micro-batch
  exactly-once manifests on the streaming side (a replayed batchId
  commit is a detected no-op).  Arrow batches stream straight into
  ``pyarrow.parquet`` writers — no row-at-a-time Python.

Envelope row (offset o, P partitions, K key space):

- ``part``   = o % P
- ``id``     = 1 + (o * 7919) % K        (7919 prime → full key cycle)
- ``h``      = int(md5(str(o))[:8], 16)  (engine-neutral randomness)
- ``name``   = 'item_' || (h % 1000)
- deleted    = (h % 10 == 0)             (10% tombstones)
- ``ts_ms``  = 1700000000000 + o         (monotone arrival order)
- ``value``  = the flattened-Debezium JSON string of those fields
  (`ExtractNewRecordState` shape: payload fields + ``__deleted``,
  reference ``create_source_connector.py:32-35``)
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import threading
import time
import uuid
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

SCHEMA = "offset BIGINT, part INT, value STRING"

_TS0 = 1_700_000_000_000


def _row(o: int, parts: int, keys: int) -> tuple[int, int, str]:
    h = int(hashlib.md5(str(o).encode()).hexdigest()[:8], 16)
    rid = 1 + (o * 7919) % keys
    deleted = "true" if h % 10 == 0 else "false"
    value = (
        f'{{"id": {rid}, "name": "item_{h % 1000}", '
        f'"__deleted": "{deleted}", "ts_ms": {_TS0 + o}}}'
    )
    return (o, o % parts, value)


class _Opts:
    """Parsed, validated reader options (shared batch/stream)."""

    def __init__(self, options):
        self.n = int(options.get("n", 1000))
        self.parts = int(options.get("parts", 4))
        self.keys = int(options.get("keys", 100))
        if self.n < 0 or self.parts <= 0 or self.keys <= 0:
            raise ValueError("cdclog: n >= 0, parts > 0, keys > 0 required")


class CdcLogBatchReader(DataSourceReader):
    def __init__(self, options):
        self.o = _Opts(options)
        self.lo = 0  # inclusive offset bound after pushdown
        self.hi = self.o.n - 1  # inclusive
        self.part_eq: int | None = None

    def pushFilters(self, filters):
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("part",):
                v = int(f.value)
                if self.part_eq is not None and self.part_eq != v:
                    # contradictory equalities (part = 1 AND part = 2):
                    # both filters are CONSUMED here, so Spark never
                    # re-evaluates them — record the contradiction by
                    # emptying the offset range so partitions() prunes
                    # the scan to [] (the correct empty result)
                    self.hi = self.lo - 1
                else:
                    self.part_eq = v
            elif isinstance(f, GreaterThan) and f.attribute == ("offset",):
                self.lo = max(self.lo, int(f.value) + 1)
            elif isinstance(f, GreaterThanOrEqual) and f.attribute == ("offset",):
                self.lo = max(self.lo, int(f.value))
            elif isinstance(f, LessThan) and f.attribute == ("offset",):
                self.hi = min(self.hi, int(f.value) - 1)
            elif isinstance(f, LessThanOrEqual) and f.attribute == ("offset",):
                self.hi = min(self.hi, int(f.value))
            else:
                yield f  # unsupported → Spark evaluates it post-scan

    def partitions(self):
        ps = range(self.o.parts) if self.part_eq is None else [self.part_eq]
        return [
            InputPartition(p)
            for p in ps
            if 0 <= p < self.o.parts and self.lo <= self.hi
        ]

    def read(self, partition) -> Iterator[tuple]:
        if partition is None:
            # PySpark substitutes [None] when partitions() returns []
            # (fully-pruned scan) and still calls read — yield nothing
            return
        p, step = partition.value, self.o.parts
        # first offset >= lo congruent to p (mod parts)
        start = self.lo + (p - self.lo) % step
        for o in range(start, self.hi + 1, step):
            yield _row(o, step, self.o.keys)


class CdcLogStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        self.o = _Opts(options)
        self.batch = int(options.get("batch", 100))
        if self.batch <= 0:
            raise ValueError("cdclog: batch > 0 required (batch <= 0 "
                             "would yield empty micro-batches forever)")

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def read(self, start: dict):
        lo = int(start["offset"])
        hi = min(lo + self.batch, self.o.n)
        rows = iter([_row(o, self.o.parts, self.o.keys) for o in range(lo, hi)])
        return rows, {"offset": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        # deterministic generation ⇒ exact replay for recovery
        return iter(
            [
                _row(o, self.o.parts, self.o.keys)
                for o in range(int(start["offset"]), int(end["offset"]))
            ]
        )


# -- write path: Arrow-batched two-phase-commit parquet sink ---------------
#
# ``df.write.format("cdclog").save(path)`` lands the DataFrame as a
# manifested parquet change-log directory:
#
#   <path>/part-g<gen>-<i>.parquet  -- one file per non-empty task,
#                                      fresh generation per commit
#   <path>/_COMMIT.json             -- {"files": [...], "rows": N}
#
# The protocol is the classic two-phase commit every serious sink
# implements (and the same shape as streaming/pipeline.py's snapshot
# sink): executors write to _tmp-<uuid> names and return a commit
# message; ONLY the driver's commit() renames them — under a FRESH
# generation prefix, never over a published name — and then publishes
# the manifest atomically (tmp + fsync + os.replace); superseded files
# are unlinked only after the swap.  A crash at any earlier point
# leaves stray _tmp files or unreferenced new-generation files that
# readers — which trust the manifest alone — never see; abort()
# removes tmp debris eagerly.  The streaming variant commits one manifest PER micro-batch
# and treats a re-committed batchId as an already-done replay
# (exactly-once on top of Spark's checkpointed batch numbering).


class ConcurrentWriteError(RuntimeError):
    """Two writers raced a batch commit to the same cdclog path; the
    loser fails HERE, having published nothing (sources/cdclog.py's
    analogue of streaming.pipeline.ConcurrentCommitError)."""


#: age after which an unreleased claim from a DEAD process may be
#: reclaimed by a later writer.  Generous on purpose: a live commit
#: holds its claim for seconds, and reclaiming requires BOTH the age
#: bound and a liveness check to fail.
_CLAIM_STALE_SECS = 900.0


def _claim_is_stale(claim: str, max_age: float = _CLAIM_STALE_SECS) -> bool:
    """Is this claim an abandoned fence from a crashed writer?  True
    only when it is older than ``max_age`` AND its recorded pid is not
    alive (the pid check is meaningful because cdclog is a local-FS
    data source — writers share the host).  A live pid, a young claim,
    or a claim owned by an unsignalable user is NEVER stale."""
    try:
        st = os.stat(claim)
    except FileNotFoundError:
        return True  # already released/recovered — retrying is safe
    if time.time() - st.st_mtime < max_age:
        return False
    try:
        with open(claim) as f:
            pid = int(json.load(f)["pid"])
    except (OSError, ValueError, KeyError, TypeError):
        # unreadable/empty (a pre-stamp-era claim, or a writer that
        # crashed between create and write) — age alone decides
        return True
    try:
        os.kill(pid, 0)
        return False  # holder is alive, no matter how old
    except ProcessLookupError:
        return True
    except PermissionError:
        return False  # alive, owned by another user


def _acquire_claim(claim: str) -> None:
    """Exclusively create the per-generation claim, stamped with
    pid + timestamp so a crashed writer's fence is distinguishable
    from a live racer's.

    Stale-claim recovery is sideline-THEN-judge: the claim is first
    renamed to a unique name (atomic — exactly one of N concurrent
    reclaimers wins), and staleness is decided on the file we now
    exclusively hold.  Judging the path first and renaming after
    would be a TOCTOU: between the check and the rename another
    writer could release the stale claim and acquire a FRESH one,
    and the blind rename would sideline the live fence — two writers
    holding the same generation, the exact lost-update the claim
    exists to prevent.  A sidelined claim judged LIVE is restored via
    ``os.link`` (which, unlike rename, refuses to clobber a claim a
    third writer created meanwhile)."""
    for attempt in (0, 1):
        try:
            fd = os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            try:
                os.write(
                    fd,
                    json.dumps(
                        {"pid": os.getpid(), "ts": time.time()}
                    ).encode(),
                )
            finally:
                os.close(fd)
            return
        except FileExistsError:
            # cheap gate first so live claims are never touched in the
            # common contended case; the authoritative judgement runs
            # on the sidelined file below.  The gate PINS the inode it
            # judged: if the rename grabs a DIFFERENT file (the stale
            # holder released and a fresh writer claimed inside the
            # gate window), that file is restored immediately — we
            # never judge, and never delete, a claim the gate did not
            # examine, and the wrongly-sidelined window stays a few
            # syscalls wide.
            if attempt == 0:
                try:
                    gate_ino = os.stat(claim).st_ino
                except FileNotFoundError:
                    continue  # released already — retry the create
                if not _claim_is_stale(claim):
                    pass  # live/fresh: fall through to the raise below
                else:
                    sidelined = f"{claim}.stale-{uuid.uuid4().hex}"
                    try:
                        os.rename(claim, sidelined)
                    except FileNotFoundError:
                        continue  # another racer recovered/released
                    try:
                        grabbed_ino = os.stat(sidelined).st_ino
                    except FileNotFoundError:
                        continue  # racer consumed the sidelined file
                    if grabbed_ino == gate_ino and _claim_is_stale(
                        sidelined
                    ):
                        os.unlink(sidelined)
                        continue  # reclaimed: retry the create
                    # wrong file (fresh claim raced in) or the holder
                    # turned out live: restore WITHOUT clobbering
                    try:
                        os.link(sidelined, claim)
                        os.unlink(sidelined)
                    except FileExistsError:
                        # a third writer claimed during the restore
                        # window; keep the displaced claim for
                        # forensics and fail loudly — never silently
                        # double-fence
                        raise ConcurrentWriteError(
                            f"claim race at {claim}: a live claim was "
                            f"displaced to {sidelined} while a new "
                            "writer claimed — resolve manually (both "
                            "files kept)"
                        ) from None
                    except OSError:
                        # filesystem without hardlink support: restore
                        # via rename (tiny clobber window, but the
                        # alternative leaves the generation unfenced —
                        # a third writer could claim while the
                        # displaced live writer still holds it)
                        try:
                            os.rename(sidelined, claim)
                        except FileNotFoundError:
                            pass  # racer consumed it; fall through
            raise ConcurrentWriteError(
                f"already claimed at {claim} — another writer is "
                "committing to this path (a claim from a crashed "
                f"writer auto-expires after {_CLAIM_STALE_SECS:.0f}s "
                "once its pid is gone; clear_stale_claims() forces it)"
            ) from None


def clear_stale_claims(path: str, max_age: float = 0.0) -> list[str]:
    """Manual recovery helper: remove claims in ``path`` whose holder
    pid is dead and whose age exceeds ``max_age`` (0 = any age, still
    never a LIVE holder).  Returns the removed claim names."""
    removed = []
    for name in sorted(os.listdir(path)):
        if not (name.startswith("_gen-") and name.endswith(".claim")):
            continue
        full = os.path.join(path, name)
        if _claim_is_stale(full, max_age=max_age):
            try:
                os.unlink(full)
                removed.append(name)
            except FileNotFoundError:
                pass
    return removed


@dataclasses.dataclass
class _FileCommit(WriterCommitMessage):
    tmp_name: str | None
    rows: int
    # per-column zone map for THIS file: {col: [min, max, null_count]}
    # (JSON-safe values; None when the column type is un-stat-able)
    stats: dict | None = None


_STATABLE = ("int", "uint", "halffloat", "float", "double", "string",
             "large_string", "date", "timestamp", "bool")


_STAT_STR_MAX = 64  # string zone values are bounded, Parquet-style


def _trunc_lower(s: str) -> str:
    """Safe LOWER bound for a long string: any prefix of the min is
    <= the min, so truncation alone preserves `smax < lo => skip`."""
    return s if len(s) <= _STAT_STR_MAX else s[:_STAT_STR_MAX]


def _trunc_upper(s: str):
    """Safe UPPER bound for a long string: truncate then INCREMENT the
    last code point (Parquet's upper-bound adjustment) so the result
    still dominates every string sharing the prefix.  Carries over
    max-code-point tails; returns None (= unknown, never skip) in the
    degenerate all-U+10FFFF case."""
    if len(s) <= _STAT_STR_MAX:
        return s
    t = list(s[:_STAT_STR_MAX])
    for i in range(len(t) - 1, -1, -1):
        cp = ord(t[i])
        if cp < 0x10FFFF:
            return "".join(t[:i]) + chr(cp + 1)
    return None


def _stat_value(v, upper: bool = False):
    """JSON-safe form of an Arrow scalar for the manifest zone map.
    Dates/timestamps become ISO strings — ISO-8601 orders
    lexicographically the same as the instants it denotes, so the
    pruner's plain comparison stays correct (same invariant the sink's
    _iso_watermark relies on).  Long strings are bounded to
    ``_STAT_STR_MAX`` code points (manifests must stay O(files), not
    O(files x value size)): lower bounds truncate, upper bounds
    truncate-and-increment so pruning stays conservative."""
    v = v.as_py() if hasattr(v, "as_py") else v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, str):
        return _trunc_upper(v) if upper else _trunc_lower(v)
    return v


def _merge_col_stats(acc: dict, batch) -> None:
    """Fold one Arrow batch's per-column min/max/null_count into acc.

    Upper-bound poison (stored max = None = "never max-prune") is
    STICKY and has three sources: a degenerate string truncation, a
    float batch containing any NaN (Spark SQL orders NaN ABOVE every
    number, so a real predicate ``col >= k`` matches NaN rows that
    ``pc.min_max`` — which skips NaN — would hide from the zone map;
    pruning must stay an optimization, never a filter), and an all-NaN
    batch (whose ``pc.min_max`` is ``[inf, -inf]`` garbage: it
    contributes no finite bounds at all).  NaN-poisoned entries carry
    a 4th ``"nan"`` marker in the manifest so a later batch cannot
    mistake ``[None, None, n]`` for the all-NULL no-information shape
    and resurrect a finite max.  The NaN min is still safe: NaN is the
    LARGEST float, so the min over the non-NaN values lower-bounds the
    column."""
    import pyarrow.compute as pc

    for i, field in enumerate(batch.schema):
        t = str(field.type)
        if not t.startswith(_STATABLE):
            continue
        col = batch.column(i)
        nulls = col.null_count
        n_valid = len(col) - nulls
        lo = hi = None
        has_nan = False
        if n_valid:
            if t.startswith(("halffloat", "float", "double")):
                n_nan = pc.sum(pc.is_nan(col)).as_py() or 0
                has_nan = n_nan > 0
                if n_nan < n_valid:
                    mm = pc.min_max(col)
                    lo = _stat_value(mm["min"])
                    if not has_nan:
                        hi = _stat_value(mm["max"], upper=True)
                # all-NaN: no finite bounds; has_nan carries the info
            else:
                mm = pc.min_max(col)
                lo = _stat_value(mm["min"])
                hi = _stat_value(mm["max"], upper=True)
        cur = acc.get(field.name)
        if cur is None:
            cur = acc[field.name] = [lo, hi, nulls]
            if has_nan:
                cur.append("nan")
            continue
        cur[2] += nulls
        # Upper-bound poison state must be read BEFORE the lower bound
        # is updated: `cur[0] is not None` distinguishes a degenerate-
        # truncation poison ([lo, None]) from the all-NULL
        # no-information shape ([None, None]) — assigning cur[0] first
        # would misclassify all-NULL-then-values as poisoned and
        # silently disable max-side pruning for the file forever.
        cur_poisoned = len(cur) > 3 or (cur[1] is None and cur[0] is not None)
        if lo is not None:
            cur[0] = lo if cur[0] is None else min(cur[0], lo)
        batch_poisons = has_nan or (n_valid > 0 and hi is None)
        if cur_poisoned or batch_poisons:
            cur[1] = None
        elif hi is not None:
            cur[1] = hi if cur[1] is None else max(cur[1], hi)
        if has_nan and len(cur) == 3:
            cur.append("nan")


def _read_manifest_json(path: str, manifest: str = "_COMMIT.json") -> dict:
    try:
        with open(os.path.join(path, manifest)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {"files": [], "rows": 0}


def _next_generation(files: list[str]) -> int:
    """Generation counter from manifested names (``part-g<gen>-<i>``):
    every commit writes files under a FRESH generation, so a published
    file is never renamed over or unlinked before the manifest swap
    un-publishes it — the property that makes the two-phase commit
    actually atomic under overwrite."""
    gens = [
        int(f.split("-")[1][1:])
        for f in files
        if f.startswith("part-g") and f.split("-")[1][1:].isdigit()
    ]
    return (max(gens) + 1) if gens else 0


def _write_manifest(
    path: str,
    manifest: str,
    files: list[str],
    rows: int,
    stats: dict | None = None,
):
    tmp = os.path.join(path, manifest + ".tmp")
    doc = {"files": files, "rows": rows}
    if stats:
        # zone maps ride the manifest: {file: {col: [min, max, nulls]}}
        doc["stats"] = stats
    with open(tmp, "w") as f:
        json.dump(doc, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(path, manifest))


class _ArrowTaskWriter:
    """Executor-side half shared by the batch and stream writers:
    stream incoming Arrow batches straight into one tmp parquet file —
    no row-at-a-time Python, no buffering of the whole partition."""

    def __init__(self, path: str):
        self.path = path

    def write(self, iterator) -> _FileCommit:
        import pyarrow.parquet as pq

        os.makedirs(self.path, exist_ok=True)
        tmp_name, writer, rows = f"_tmp-{uuid.uuid4().hex}.parquet", None, 0
        full = os.path.join(self.path, tmp_name)
        stats: dict = {}
        try:
            for batch in iterator:
                if writer is None:
                    # Parquet stats are DISABLED for float/double
                    # columns: pyarrow writes NaN-skipped min/max
                    # (max([1,5,NaN]) stored as 5.0), and Spark — which
                    # orders NaN ABOVE every number — prunes row groups
                    # on those stats, silently dropping NaN rows under
                    # a pushed-down `m >= k` (the PARQUET-1222 class).
                    # Float range pruning still happens, NaN-safely,
                    # via the manifest zone maps below.
                    non_float = [
                        f.name
                        for f in batch.schema
                        if not str(f.type).startswith(
                            ("halffloat", "float", "double")
                        )
                    ]
                    writer = pq.ParquetWriter(
                        full, batch.schema, write_statistics=non_float
                    )
                writer.write_batch(batch)
                rows += batch.num_rows
                # zone map folded batch-by-batch while the data is
                # already in cache — no second pass over the file
                _merge_col_stats(stats, batch)
        finally:
            if writer is not None:
                writer.close()
        if writer is None:
            return _FileCommit(None, 0)  # empty partition: no file
        return _FileCommit(tmp_name, rows, stats or None)

    def _cleanup(self, messages) -> None:
        for m in messages:
            if m is not None and m.tmp_name:
                try:
                    os.unlink(os.path.join(self.path, m.tmp_name))
                except FileNotFoundError:
                    pass


class CdcLogBatchWriter(_ArrowTaskWriter, DataSourceArrowWriter):
    def __init__(self, options, overwrite: bool):
        path = options.get("path")
        if not path:
            raise ValueError("cdclog write requires a path")
        _ArrowTaskWriter.__init__(self, path)
        self.overwrite = overwrite

    def commit(self, messages) -> None:
        done = [m for m in messages if m is not None and m.tmp_name]
        prev = _read_manifest_json(self.path)
        gen = _next_generation(prev["files"])
        # writer fence (mirrors SnapshotUpsertSink._claim): exclusively
        # create a per-generation claim BEFORE any rename.  Without it,
        # two concurrent batch writes both read the previous manifest,
        # compute the SAME generation, rename onto identical
        # part-g<gen>-<i> names (os.replace silently overwrites) and
        # the last manifest swap wins — the loser's rows would vanish
        # without error.
        claim = os.path.join(self.path, f"_gen-{gen:04d}.claim")
        try:
            _acquire_claim(claim)
        except ConcurrentWriteError:
            self._cleanup(messages)
            raise
        # Everything under the claim runs in try/except: an IO error
        # mid-commit from a LIVE long-running driver would otherwise
        # leave the claim held with an alive pid — unreclaimable by
        # design (live holders are never preempted), wedging the path
        # until the process exits.  Failure releases the fence.
        try:
            self._commit_under_claim(messages, done, gen, claim)
        except BaseException:
            try:
                os.unlink(claim)
            except FileNotFoundError:
                pass  # a raced reclaimer may hold it sidelined
            raise

    def _commit_under_claim(self, messages, done, gen: int, claim: str):
        # re-verify under the claim: a fast concurrent writer may have
        # claimed this generation, committed AND released between our
        # manifest read and our claim — its commit moved the manifest,
        # so the generation we computed is stale
        now = _read_manifest_json(self.path)
        if _next_generation(now["files"]) != gen:
            self._cleanup(messages)
            raise ConcurrentWriteError(
                f"base manifest advanced while planning generation {gen} "
                "— retry the write against the new state"
            )
        prev = now
        # rename tmp files to FRESH generation names — never over a
        # name any manifest has ever published, so a crash (or a
        # concurrent committed-only read) at ANY point before the
        # manifest swap still sees the previous commit fully intact
        new = []
        new_stats: dict = {}
        for i, m in enumerate(sorted(done, key=lambda m: m.tmp_name)):
            name = f"part-g{gen:04d}-{i:05d}.parquet"
            os.replace(
                os.path.join(self.path, m.tmp_name),
                os.path.join(self.path, name),
            )
            new.append(name)
            if getattr(m, "stats", None):
                new_stats[name] = m.stats
        new_rows = sum(m.rows for m in messages if m is not None)
        if self.overwrite:
            final, rows, stats = new, new_rows, new_stats
        else:
            final = prev["files"] + new
            rows = prev["rows"] + new_rows
            stats = dict(prev.get("stats") or {})
            stats.update(new_stats)
        # zone maps only for files still referenced (overwrite drops
        # superseded entries with their files)
        stats = {f: s for f, s in stats.items() if f in set(final)}
        _write_manifest(self.path, "_COMMIT.json", final, rows, stats)
        # only AFTER the swap: superseded files are now unreferenced —
        # a crash before this loop leaves invisible orphans, never a
        # published manifest pointing at missing or mutated files
        for old in set(prev["files"]) - set(final):
            try:
                os.unlink(os.path.join(self.path, old))
            except FileNotFoundError:
                pass
        # release the claim: the manifest has moved, so any later
        # writer recomputes a HIGHER generation from it — the recycled
        # claim name can never gate the same generation twice
        try:
            os.unlink(claim)
        except FileNotFoundError:
            pass

    def abort(self, messages) -> None:
        self._cleanup(messages)


class CdcLogStreamWriter(_ArrowTaskWriter, DataSourceStreamArrowWriter):
    def __init__(self, options, overwrite: bool):
        path = options.get("path")
        if not path:
            raise ValueError("cdclog write requires a path")
        _ArrowTaskWriter.__init__(self, path)

    def commit(self, messages, batchId: int) -> None:
        manifest = f"_COMMIT-{batchId}.json"
        if os.path.exists(os.path.join(self.path, manifest)):
            # replayed micro-batch (restart after a crash between the
            # sink commit and the checkpoint commit): the batch is
            # already published — drop the duplicate tmp files
            self._cleanup(messages)
            return
        done = [m for m in messages if m is not None and m.tmp_name]
        final = []
        stats: dict = {}
        for i, m in enumerate(sorted(done, key=lambda m: m.tmp_name)):
            name = f"batch-{batchId:06d}-{i:05d}.parquet"
            os.replace(
                os.path.join(self.path, m.tmp_name),
                os.path.join(self.path, name),
            )
            final.append(name)
            if getattr(m, "stats", None):
                stats[name] = m.stats
        _write_manifest(
            self.path, manifest, final,
            sum(m.rows for m in messages if m is not None),
            stats,
        )

    def abort(self, messages, batchId: int) -> None:
        self._cleanup(messages)


def _zone_overlaps(stat, lo, hi) -> bool:
    """Can a file whose column spans [stat_min, stat_max] contain a
    row satisfying lo <= col <= hi?  Missing/NULL-only stats ⇒ must
    read (never skip on absent information); each bound prunes
    independently (a degenerate truncated upper bound — stored None —
    only disables max-side pruning).  NULL rows never satisfy a range
    predicate, so null_count is irrelevant to range pruning."""
    if stat is None:
        return True
    smin, smax = stat[0], stat[1]
    if lo is not None and smax is not None and smax < lo:
        return False
    if hi is not None and smin is not None and smin > hi:
        return False
    return True


def _committed_file_stats(path: str) -> list[tuple[str, dict]]:
    """ONE pass over every manifest in a cdclog dir: the committed
    ``(file, zone_stats)`` pairs in manifest order.  Single read so
    callers never pair file lists and stats from different commits."""
    out = []
    for name in sorted(os.listdir(path)):
        if name == "_COMMIT.json" or (
            name.startswith("_COMMIT-") and name.endswith(".json")
        ):
            doc = _read_manifest_json(path, name)
            stats = doc.get("stats") or {}
            out.extend((f, stats.get(f) or {}) for f in doc["files"])
    return out


def _prune_pairs(pairs, prune) -> list[str]:
    """The ONE pruning rule (shared by prune_manifest_files and
    read_committed_log so the public counter and the actual read path
    can never diverge): keep a file unless its zone map PROVES no row
    satisfies every interval."""
    return [
        f
        for f, fstats in pairs
        if all(_zone_overlaps(fstats.get(col), lo, hi) for col, lo, hi in prune)
    ]


def prune_manifest_files(path: str, prune) -> tuple[list[str], int]:
    """Zone-map file skipping over every manifest in a cdclog dir:
    returns ``(kept_files, total_files)``.  ``prune`` is a list of
    ``(col, lo, hi)`` closed-interval predicates (None = unbounded
    side); a file is skipped only when its manifest zone map PROVES no
    row can satisfy every interval.  Files without stats (pre-zone-map
    manifests, un-stat-able column types) are always kept — pruning is
    an optimization, never a filter: the caller still applies the real
    predicate to the returned scan."""
    pairs = _committed_file_stats(path)
    return _prune_pairs(pairs, prune), len(pairs)


def read_committed_log(spark, path: str, prune=None):
    """Committed-only read of a cdclog sink directory: trust the
    manifests, never the directory listing — stray ``_tmp`` files from
    crashed writers are invisible by construction.  Returns None for a
    never-committed path.

    ``prune``: optional list of ``(col, lo, hi)`` closed intervals.
    Files whose manifest ZONE MAP proves no row can match are skipped
    before Spark ever opens them — manifest-level data skipping, the
    move that matters at 100 TB where a time- or key-range query
    should touch O(matching files), not O(table).  The caller still
    applies the real filter; pruning only shrinks the scan (date /
    timestamp zone values are ISO strings — pass ISO strings as
    bounds, which compare lexicographically in instant order).
    Manifests are parsed exactly ONCE per call — file list, stats, and
    the fully-pruned schema fallback all come from the same commit."""
    if not os.path.isdir(path):
        return None  # nothing ever written
    pairs = _committed_file_stats(path)
    if not pairs:
        return None
    files = [f for f, _ in pairs]
    if prune:
        files = _prune_pairs(pairs, prune)
        if not files:
            # everything skipped: an EMPTY frame with the log's schema
            # (one footer read), not None — the table exists; the
            # schema file comes from the SAME manifest pass, so a
            # concurrent overwrite can't have unlinked it out from
            # under a stale earlier listing
            return spark.read.parquet(
                os.path.join(path, pairs[0][0])
            ).limit(0)
    return spark.read.parquet(*[os.path.join(path, f) for f in files])


class CdcLogDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "cdclog"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> CdcLogBatchReader:
        return CdcLogBatchReader(self.options)

    def simpleStreamReader(self, schema) -> CdcLogStreamReader:
        return CdcLogStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> CdcLogBatchWriter:
        return CdcLogBatchWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> CdcLogStreamWriter:
        return CdcLogStreamWriter(self.options, overwrite)


_REGISTER_LOCK = threading.Lock()


def register_cdclog(spark) -> None:
    """Idempotently register the source with a session.

    Also enables ``spark.sql.python.filterPushdown.enabled`` (runtime
    conf, same pattern as ``nanosAsLong`` in ``registry.table``):
    Spark REFUSES to plan a reader that implements ``pushFilters``
    while the capability flag is off, so registration and the flag
    must travel together — including on the driver's vanilla harness
    session.  Thread-safe: Spark refuses a registration that races
    another thread's registration of the same name
    (``DATA_SOURCE_ALREADY_EXISTS``), so registrations take one lock."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    with _REGISTER_LOCK:
        spark.dataSource.register(CdcLogDataSource)


#: DuckDB regeneration of the same log (shared CTE for oracles) —
#: md5 + arithmetic only, so both engines emit identical envelopes.
def duck_log_cte(n: int, parts: int, keys: int) -> str:
    return f"""
    log AS (
      SELECT o AS "offset",
             CAST(o % {parts} AS INT) AS part,
             1 + (o * 7919) % {keys} AS id,
             CAST('0x' || substr(md5(CAST(o AS VARCHAR)), 1, 8) AS BIGINT) AS h,
             {_TS0} + o AS ts_ms
      FROM (SELECT unnest(generate_series(0, {n - 1})) AS o)
    ),
    envelope AS (
      SELECT "offset", part, id,
             'item_' || CAST(h % 1000 AS VARCHAR) AS name,
             (h % 10 = 0) AS deleted,
             ts_ms
      FROM log
    )
    """
