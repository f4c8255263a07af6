"""Exhaustive staging-GC audit for `sinks.atomic` (r9 VERDICT #9).

The existing crash tests pin chosen crash points; this suite proves
the stronger property wholesale: after a crash injected at EVERY
filesystem-mutation boundary of the protocol — including a second
crash inside the heal itself — ONE completed reader-side recovery
cycle (`heal_snapshot` + per-table `heal` + `gc_orphans`) leaves

* zero ``__staging`` dirs,
* zero ``__retired`` dirs,
* zero snapshot markers (including ``.tmp.`` orphans),
* zero lease files (including ``.reclaimed.`` / ``.releasing.``
  aside-files),

and every table wholly old or wholly new — with all snapshot members
agreeing (the all-or-none contract).

Pure-filesystem: the protocol operates on dirs + marker files, so the
sweep injects by wrapping the module's mutation syscalls (os.rename /
os.replace / os.remove / os.link / shutil.rmtree) with a budget
counter — no Spark session, hundreds of crash points in seconds.
"""

from __future__ import annotations

import os
import shutil

import pytest

from purpleair_data_logger_spark.sinks import atomic


class _Crash(RuntimeError):
    """Injected process death at a filesystem-mutation boundary."""


_PATCHED = ("rename", "replace", "remove", "link")


class _Injector:
    """First ``budget`` mutations succeed; the next one 'kills the
    process'. budget=None disables injection (used to detect the
    total op count of an uninjected run)."""

    def __init__(self, budget):
        self.budget = budget
        self.ops = 0

    def _gate(self):
        if self.budget is not None and self.ops >= self.budget:
            raise _Crash(f"crash at mutation #{self.ops}")
        self.ops += 1

    def install(self, mp: pytest.MonkeyPatch):
        # r13: the module's file ops route through the injectable
        # `fsio` seam (atomic.FS), so the crash gate wraps the SEAM's
        # mutation methods — the same five syscall boundaries as
        # before (rename/replace/remove/link/rmtree), now proving the
        # protocol stays crash-safe THROUGH the seam.
        from purpleair_data_logger_spark import fsio

        injector = self

        class GatedFS(fsio.PosixFS):
            pass

        for name in _PATCHED + ("rmtree",):
            real = getattr(fsio.PosixFS, name)

            def wrapped(self, *a, __real=real, **k):
                injector._gate()
                return __real(self, *a, **k)

            setattr(GatedFS, name, wrapped)
        mp.setattr(atomic, "FS", GatedFS())


def _mk_table(base, name, *, staged_success=True, shape="rewrite", link=True):
    """One table: live partitions d1+d2 (old). A "rewrite" staging
    replaces d1 and adds d3 (new); an "append" staging puts a new file
    next to d1's old one and adds d3 — the old file hard-linked in by
    `atomic.keep_live_files` (unless ``link=False``, for sweeping the
    linking itself). Returns (live, expected_old, expected_new) trees."""
    live = os.path.join(base, name)
    for p in ("date=d1", "date=d2"):
        d = os.path.join(live, p)
        os.makedirs(d)
        with open(os.path.join(d, "f.old"), "w") as fh:
            fh.write("old")
    staged = atomic.staging_path(live)
    for p in ("date=d1", "date=d3"):
        d = os.path.join(staged, p)
        os.makedirs(d)
        with open(os.path.join(d, "f.new"), "w") as fh:
            fh.write("new")
    if staged_success:
        with open(os.path.join(staged, atomic.SUCCESS_FILE), "w"):
            pass
    old = {"date=d1": ["f.old"], "date=d2": ["f.old"]}
    new = {"date=d1": ["f.new"], "date=d2": ["f.old"], "date=d3": ["f.new"]}
    if shape == "append":
        new["date=d1"] = ["f.new", "f.old"]
        if link:
            atomic.keep_live_files(live)
    return live, old, new


def _tree(live):
    if not os.path.isdir(live):
        return {}
    return {
        p: sorted(os.listdir(os.path.join(live, p)))
        for p in atomic._partition_entries(live)
    }


def _leaks(base):
    """Everything a completed recovery cycle must NOT leave behind."""
    found = []
    for root, dirs, files in os.walk(base):
        for d in dirs:
            if d.endswith(atomic.STAGING_SUFFIX) or d.endswith(
                atomic.RETIRED_SUFFIX
            ):
                found.append(os.path.join(root, d))
        for f in files:
            if f.startswith(
                (
                    atomic.SNAPSHOT_PENDING,
                    atomic.SNAPSHOT_COMMIT,
                    atomic.SNAPSHOT_LEASE,
                )
            ):
                found.append(os.path.join(root, f))
    return found


def _age(path, seconds=10_000.0):
    t = os.path.getmtime(path) - seconds
    os.utime(path, (t, t))


def _age_store(base):
    """A crashed writer stops heartbeating: age every lease artifact
    past the TTL so the recovery cycle may reclaim it."""
    for entry in os.listdir(base):
        if entry.startswith(atomic.SNAPSHOT_LEASE) or entry.startswith(
            atomic.SNAPSHOT_PENDING + ".tmp."
        ):
            _age(os.path.join(base, entry))


def _recover(base, lives):
    """The reader-side recovery cycle, run uninjected."""
    _age_store(base)
    atomic.heal_snapshot(base)
    for l in lives:
        atomic.heal(l)
    atomic.gc_orphans(base, ttl=1.0)


def _run_injected(budget, fn):
    """Run ``fn`` with a mutation budget; returns (ops_done, crashed)."""
    inj = _Injector(budget)
    with pytest.MonkeyPatch.context() as mp:
        inj.install(mp)
        try:
            fn()
            return inj.ops, False
        except _Crash:
            return inj.ops, True


def test_single_table_commit_every_crash_point(tmp_path):
    """commit() killed at every mutation boundary: heal + gc leave a
    clean tree and the table wholly old or wholly new."""
    budget = 0
    while True:
        base = str(tmp_path / f"commit_{budget}")
        os.makedirs(base)
        live, old, new = _mk_table(base, "t")
        _, crashed = _run_injected(budget, lambda: atomic.commit(live))
        _recover(base, [live])
        assert _leaks(base) == [], f"budget={budget}"
        assert _tree(live) in (old, new), f"budget={budget}: {_tree(live)}"
        if not crashed:
            assert _tree(live) == new
            break
        budget += 1
    assert budget >= 4  # the sweep actually covered interior points


def test_single_table_rollback_every_crash_point(tmp_path):
    """heal() of an UNCOMMITTED staging (no _SUCCESS) killed at every
    mutation boundary: a second heal + gc leave the old state, clean."""
    budget = 0
    while True:
        base = str(tmp_path / f"rb_{budget}")
        os.makedirs(base)
        live, old, _ = _mk_table(base, "t", staged_success=False)
        _, crashed = _run_injected(budget, lambda: atomic.heal(live))
        _recover(base, [live])
        assert _leaks(base) == [], f"budget={budget}"
        assert _tree(live) == old, f"budget={budget}: {_tree(live)}"
        if not crashed:
            break
        budget += 1


def test_snapshot_begin_every_crash_point(tmp_path):
    """snapshot_begin killed at every boundary (including between the
    temp-marker write and the os.replace flip, and inside the lease
    machinery): recovery leaves no marker/tmp/lease artifacts and all
    tables old. Staging happens AFTER begin by contract ('writes
    _SNAPSHOT_PENDING BEFORE any staging write'), so a begin-crash
    leaves pristine tables plus at most a lease + a tmp marker."""
    budget = 0
    while True:
        base = str(tmp_path / f"begin_{budget}")
        os.makedirs(base)
        # live-only tables; staging is written after begin succeeds
        names = ["t0", "t1"]
        lives, olds = [], []
        for n in names:
            live = os.path.join(base, n)
            for p in ("date=d1", "date=d2"):
                d = os.path.join(live, p)
                os.makedirs(d)
                with open(os.path.join(d, "f.old"), "w") as fh:
                    fh.write("old")
            lives.append(live)
            olds.append({"date=d1": ["f.old"], "date=d2": ["f.old"]})
        _, crashed = _run_injected(
            budget, lambda: atomic.snapshot_begin(base, lives, writer_id="w1")
        )
        _recover(base, lives)
        assert _leaks(base) == [], f"budget={budget}"
        for live, old in zip(lives, olds):
            assert _tree(live) == old, f"budget={budget}: {_tree(live)}"
        if not crashed:
            break
        budget += 1


def test_snapshot_commit_every_crash_point_all_or_none(tmp_path):
    """snapshot_commit over three tables killed at every mutation
    boundary (marker flip, each member's partition swaps, marker
    retraction, lease release): one recovery cycle leaves zero
    leaks and ALL members wholly old or ALL wholly new. Swept for an
    upsert/compaction rewrite, for an append whose old files
    keep_live_files already linked in, and for an append whose linking
    is swept too — a crash at any link (snapshot still PENDING) rolls
    every member back to old."""
    for shape, sweep_links in (
        ("rewrite", False), ("append", False), ("append", True)
    ):
        budget = 0
        while True:
            base = str(tmp_path / f"snap_{shape}_{sweep_links}_{budget}")
            os.makedirs(base)
            lives = [os.path.join(base, f"t{i}") for i in range(3)]
            atomic.snapshot_begin(base, lives, writer_id="w1")
            tables = [
                _mk_table(base, f"t{i}", shape=shape, link=not sweep_links)
                for i in range(3)
            ]

            def publish():
                if sweep_links:
                    for live in lives:
                        atomic.keep_live_files(live)
                atomic.snapshot_commit(base, writer_id="w1")

            _, crashed = _run_injected(budget, publish)
            _recover(base, lives)
            where = f"{shape} sweep_links={sweep_links} budget={budget}"
            assert _leaks(base) == [], where
            states = {
                live: ("old" if _tree(live) == old else
                       "new" if _tree(live) == new else "MIXED")
                for live, old, new in tables
            }
            assert set(states.values()) in ({"old"}, {"new"}), (
                f"{where}: all-or-none violated: {states}"
            )
            if sweep_links and budget < len(lives):  # died mid-link
                assert set(states.values()) == {"old"}, where
            if not crashed:
                assert set(states.values()) == {"new"}
                break
            budget += 1
        assert budget >= 10  # three tables' swaps + markers were all swept


def test_snapshot_double_crash_heal_then_heal_again(tmp_path):
    """Crash inside snapshot_commit, then crash AGAIN inside the first
    heal_snapshot at every boundary: the SECOND recovery cycle still
    leaves zero leaks and all-or-none intact."""
    # pick three representative commit-crash points: before the marker
    # flip, mid-member-swaps, during marker retraction/lease release
    for commit_budget in (0, 6, 14):
        heal_budget = 0
        while True:
            base = str(
                tmp_path / f"dbl_{commit_budget}_{heal_budget}"
            )
            os.makedirs(base)
            tables = [_mk_table(base, f"t{i}") for i in range(3)]
            lives = [t[0] for t in tables]
            atomic.snapshot_begin(base, lives, writer_id="w1")
            _run_injected(
                commit_budget,
                lambda: atomic.snapshot_commit(base, writer_id="w1"),
            )
            # first heal attempt, itself crash-injected
            _age_store(base)
            _, heal_crashed = _run_injected(
                heal_budget, lambda: atomic.heal_snapshot(base)
            )
            # second, completed recovery cycle
            _recover(base, lives)
            assert _leaks(base) == [], (
                f"commit_budget={commit_budget} heal_budget={heal_budget}"
            )
            states = {
                live: ("old" if _tree(live) == old else
                       "new" if _tree(live) == new else "MIXED")
                for live, old, new in tables
            }
            assert set(states.values()) in ({"old"}, {"new"}), (
                f"commit_budget={commit_budget} heal_budget={heal_budget}: "
                f"{states}"
            )
            if not heal_crashed:
                break
            heal_budget += 1


def test_gc_orphans_never_touches_fresh_artifacts(tmp_path):
    """The mtime guard: a LIVE writer's lease, in-flight temp marker,
    and aside-files survive gc; stale ones go."""
    base = str(tmp_path / "fresh")
    os.makedirs(base)
    fresh = [
        os.path.join(base, atomic.SNAPSHOT_LEASE),
        os.path.join(base, atomic.SNAPSHOT_PENDING + ".tmp.abc"),
        os.path.join(base, atomic.SNAPSHOT_LEASE + ".releasing.abc"),
    ]
    for p in fresh:
        with open(p, "w") as fh:
            fh.write("w1\n")
    assert atomic.gc_orphans(base, ttl=900.0) == []
    for p in fresh:
        assert os.path.exists(p), p
    for p in fresh:
        _age(p)
    removed = atomic.gc_orphans(base, ttl=900.0)
    assert sorted(removed) == sorted(fresh)
    assert _leaks(base) == []


def test_gc_orphans_spares_stale_lease_under_live_marker(tmp_path):
    """A stale lease WITH a snapshot marker present belongs to
    heal_snapshot (which needs the marker context to roll) — gc must
    leave both alone."""
    base = str(tmp_path / "marked")
    os.makedirs(base)
    lease = os.path.join(base, atomic.SNAPSHOT_LEASE)
    marker = os.path.join(base, atomic.SNAPSHOT_PENDING)
    for p in (lease, marker):
        with open(p, "w") as fh:
            fh.write("w1\n")
        _age(p)
    assert atomic.gc_orphans(base, ttl=900.0) == []
    assert os.path.exists(lease) and os.path.exists(marker)


def test_gc_vs_fresh_lease_toctou_restores_live_writer(tmp_path):
    """r10 self-review race: gc_orphans checks staleness, then a writer
    completes its own stale-reclaim and O_EXCL-creates a FRESH lease,
    then gc's rename lands on that fresh lease. The post-rename mtime
    re-check must restore the live writer's lease instead of deleting
    it (single-writer contract)."""
    base = str(tmp_path / "toctou")
    os.makedirs(base)
    lease = atomic._lease_path(base)
    with open(lease, "w") as fh:
        fh.write("crashed-writer\n")
    _age(lease)  # stale: gc's pre-check will pass

    real_rename = os.rename
    state = {"fired": False}

    def rename_with_interleaved_writer(src, dst, *a, **k):
        if not state["fired"] and src == lease and ".reclaimed." in dst:
            state["fired"] = True
            # the writer wins the real reclaim first...
            token = atomic.acquire_lease(base, "live-writer", ttl_default())
            assert token == "live-writer"
            # ...and now gc's rename executes against the FRESH lease
        return real_rename(src, dst, *a, **k)

    def ttl_default():
        return atomic.DEFAULT_LEASE_TTL

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(atomic.os, "rename", rename_with_interleaved_writer)
        removed = atomic.gc_orphans(base, ttl=900.0)
    assert state["fired"]
    assert removed == [], "gc claimed to remove the live writer's lease"
    assert atomic._lease_owner(base) == "live-writer"
    assert _leaks(base) == [lease], "exactly the live lease should remain"


def test_acquire_lease_survives_gc_collecting_its_aside(tmp_path):
    """r10 self-review race: rename(2) preserves mtime, so the aside a
    writer makes of a STALE lease is instantly gc-collectable; if gc
    wins the one-syscall window before the writer's own remove,
    acquire_lease must still succeed (not crash on FileNotFoundError)."""
    base = str(tmp_path / "aside_gc")
    os.makedirs(base)
    lease = atomic._lease_path(base)
    with open(lease, "w") as fh:
        fh.write("crashed-writer\n")
    _age(lease)

    real_rename = os.rename
    state = {"fired": False}

    def rename_then_gc_steals_aside(src, dst, *a, **k):
        out = real_rename(src, dst, *a, **k)
        if not state["fired"] and src == lease and ".reclaimed." in dst:
            state["fired"] = True
            os.remove(dst)  # gc collects the stale-mtime aside first
        return out

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(atomic.os, "rename", rename_then_gc_steals_aside)
        token = atomic.acquire_lease(base, "writer-2", atomic.DEFAULT_LEASE_TTL)
    assert state["fired"]
    assert token == "writer-2"
    assert atomic._lease_owner(base) == "writer-2"


def test_release_lease_survives_gc_collecting_its_aside(tmp_path):
    """Same window on the release side: the aside of an already-stale
    lease vanishes to gc mid-release; release_lease must return False
    (lease gone either way) rather than crash."""
    base = str(tmp_path / "rel_gc")
    os.makedirs(base)
    lease = atomic._lease_path(base)
    with open(lease, "w") as fh:
        fh.write("w1\n")
    _age(lease)

    real_rename = os.rename

    def rename_then_gc_steals_aside(src, dst, *a, **k):
        out = real_rename(src, dst, *a, **k)
        if src == lease and ".releasing." in dst:
            os.remove(dst)
        return out

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(atomic.os, "rename", rename_then_gc_steals_aside)
        assert atomic.release_lease(base, owner="w1") is False
    assert not os.path.exists(lease)
