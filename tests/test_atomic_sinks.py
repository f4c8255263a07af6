"""Crash-injection tests for the `sinks.atomic` publish protocol:
every interruption point of an append/upsert/compact must leave a
store that a fresh `SensorTableStore` (which heals on construction)
reads as wholly old or wholly new data — never lost or half-written
partitions."""

from __future__ import annotations

import os
import shutil
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from purpleair_data_logger_spark import schema as S
from purpleair_data_logger_spark.operators import transforms as X
from purpleair_data_logger_spark.sinks import atomic
from purpleair_data_logger_spark.sinks.tables import (
    PARTITION_COL,
    SensorTableStore,
    _dated,
)
from purpleair_data_logger_spark.sources.spark_datasource import payload_frame

BASE_TS = 1659710232  # 2022-08-05 … UTC


def _payload(ts, rows):
    return {
        "api_version": "V1",
        "time_stamp": ts + 56,
        "data_time_stamp": ts,
        "fields": ["sensor_index", "name", "humidity", "pm2.5_atm", "last_seen"],
        "data": rows,
    }


def _wide(spark, ts, rows):
    return X.cast_epoch_to_timestamp(payload_frame(spark, _payload(ts, rows)))


def _seeded_store(spark, tmp_path):
    """Two dates, two sensors, all nine tables."""
    store = SensorTableStore(spark, str(tmp_path / "tables"))
    store.append_wide(_wide(spark, BASE_TS, [[1, "s1", 40, 1.5, 0], [2, "s2", 50, 2.5, 0]]))
    store.append_wide(_wide(spark, BASE_TS + 86400, [[1, "s1", 41, 1.6, 0]]))
    return store


def _upsert_batch(spark):
    """The one-reading upsert batch the crash helpers stage, dated and
    deduplicated the way `upsert_wide` does."""
    wide = _wide(spark, BASE_TS, [[1, "s1", 99, 9.9, 0]])
    return _dated(wide.dropDuplicates(S.KEY_COLUMNS))


def _staged_upsert(store, batch, table):
    """``table``'s upsert rewrite, built as `upsert_wide` builds it:
    the batch's projection plus the stored survivors of the batch's
    dates (with their stored ``reading_date``), in the store's layout."""
    survivors = (
        store._scan(table)
        .filter(F.col(PARTITION_COL).isin(store._batch_dates(batch)))
        .join(batch.select(*S.KEY_COLUMNS), on=S.KEY_COLUMNS, how="left_anti")
    )
    return store._prepare(store._project(batch, table).unionByName(survivors))


def _stage_upsert_then_crash(spark, store):
    """Replay upsert_wide's staging write for one table, then 'crash'
    before atomic.commit — the staging dir is complete (_SUCCESS) but
    nothing was swapped."""
    live = store.path(S.ENVIRONMENTAL)
    _staged_upsert(store, _upsert_batch(spark), S.ENVIRONMENTAL).write.mode(
        "overwrite"
    ).partitionBy(PARTITION_COL).parquet(atomic.staging_path(live))


def test_crash_before_commit_rolls_forward(spark, tmp_path):
    """Staging complete (+_SUCCESS), crash before any swap: heal-on-open
    rolls the committed upsert forward."""
    store = _seeded_store(spark, tmp_path)
    _stage_upsert_then_crash(spark, store)
    assert os.path.isdir(atomic.staging_path(store.path(S.ENVIRONMENTAL)))

    reopened = SensorTableStore(spark, store.base_path)
    assert not os.path.isdir(atomic.staging_path(reopened.path(S.ENVIRONMENTAL)))
    env = {
        (r["sensor_index"], r["data_time_stamp"]): r["humidity"]
        for r in reopened.read(S.ENVIRONMENTAL).collect()
    }
    assert len(env) == 3  # nothing lost
    assert 99 in env.values()  # the staged upsert landed


def test_crash_mid_swap_rolls_forward(spark, tmp_path):
    """Crash mid-commit: one live partition already renamed aside, its
    replacement not yet moved in. Heal finishes the swap."""
    store = _seeded_store(spark, tmp_path)
    live = store.path(S.ENVIRONMENTAL)
    _stage_upsert_then_crash(spark, store)
    # simulate the commit loop dying between rename-aside and rename-in
    entry = next(
        e for e in os.listdir(atomic.staging_path(live))
        if e.startswith(f"{PARTITION_COL}=")
    )
    os.rename(os.path.join(live, entry), os.path.join(live, entry) + atomic.RETIRED_SUFFIX)

    reopened = SensorTableStore(spark, store.base_path)
    rows = reopened.read(S.ENVIRONMENTAL).collect()
    assert len(rows) == 3
    assert not any(
        e.endswith(atomic.RETIRED_SUFFIX) for e in os.listdir(live)
    )


def test_crash_with_incomplete_staging_rolls_back(spark, tmp_path):
    """Staging dir without _SUCCESS (write died midway): heal discards
    it and the old table reads back untouched."""
    store = _seeded_store(spark, tmp_path)
    live = store.path(S.ENVIRONMENTAL)
    before = sorted(
        (r["sensor_index"], r["data_time_stamp"], r["humidity"])
        for r in store.read(S.ENVIRONMENTAL).collect()
    )
    staged = atomic.staging_path(live)
    os.makedirs(os.path.join(staged, f"{PARTITION_COL}=2022-08-05"))
    with open(os.path.join(staged, f"{PARTITION_COL}=2022-08-05", "junk.parquet"), "w") as f:
        f.write("partial garbage")

    reopened = SensorTableStore(spark, store.base_path)
    assert not os.path.isdir(staged)
    after = sorted(
        (r["sensor_index"], r["data_time_stamp"], r["humidity"])
        for r in reopened.read(S.ENVIRONMENTAL).collect()
    )
    assert after == before


def test_commit_refuses_uncommitted_staging(spark, tmp_path):
    store = _seeded_store(spark, tmp_path)
    live = store.path(S.ENVIRONMENTAL)
    os.makedirs(atomic.staging_path(live), exist_ok=True)
    try:
        atomic.commit(live)
        raise AssertionError("commit must refuse staging without _SUCCESS")
    except RuntimeError:
        pass
    finally:
        shutil.rmtree(atomic.staging_path(live), ignore_errors=True)


def _stage_snapshot_then_crash(spark, store, *, tables_to_stage=None):
    """Replay upsert_wide's snapshot staging (intent marker + staged
    rewrite per table), then 'crash' before the marker flip. With
    ``tables_to_stage`` given, only those members finish staging —
    simulating a crash mid-staging."""
    batch = _upsert_batch(spark)
    atomic.snapshot_begin(store.base_path, [store.path(t) for t in S.TABLE_NAMES])
    for table in S.TABLE_NAMES:
        if tables_to_stage is not None and table not in tables_to_stage:
            continue
        _staged_upsert(store, batch, table).write.mode("overwrite").partitionBy(
            PARTITION_COL
        ).parquet(atomic.staging_path(store.path(table)))
    # The 'crashed' writer stops heartbeating: age its lease past the
    # TTL so a healing reader treats it as dead (within the TTL a
    # reader correctly REFUSES to heal — see test_snapshot_lease.py).
    _age_lease(store.base_path)
    return S.TABLE_NAMES


def _age_lease(base):
    import time as _time

    lease = os.path.join(base, atomic.SNAPSHOT_LEASE)
    stale = _time.time() - atomic.DEFAULT_LEASE_TTL - 60
    os.utime(lease, (stale, stale))


def _pk_sets(store):
    return {
        t: frozenset(
            (r["sensor_index"], r["data_time_stamp"])
            for r in store.read(t).select(*S.KEY_COLUMNS).collect()
        )
        for t in S.TABLE_NAMES
    }


def test_snapshot_crash_between_table_commits_rolls_all_forward(spark, tmp_path):
    """The window VERDICT r5 #5 names: writer dies BETWEEN two tables'
    commits (some members swapped, some still staged, marker flipped).
    A healing reader must see the new reading in ALL nine tables —
    never the J1-breaking partial publish."""
    store = _seeded_store(spark, tmp_path)
    parts = _stage_snapshot_then_crash(spark, store)
    # the snapshot committed (marker flipped)…
    import os as _os

    _os.replace(
        _os.path.join(store.base_path, atomic.SNAPSHOT_PENDING),
        _os.path.join(store.base_path, atomic.SNAPSHOT_COMMIT),
    )
    # …but the writer died after swapping only three member tables
    for t in list(parts)[:3]:
        atomic.commit(store.path(t))

    reopened = SensorTableStore(spark, store.base_path)
    pks = _pk_sets(reopened)
    assert len(set(pks.values())) == 1  # all nine tables agree on PKs
    env = {
        (r["sensor_index"], r["data_time_stamp"]): r["humidity"]
        for r in reopened.read(S.ENVIRONMENTAL).collect()
    }
    assert len(env) == 3 and 99 in env.values()  # the snapshot landed
    assert not _os.path.exists(
        _os.path.join(store.base_path, atomic.SNAPSHOT_COMMIT)
    )


def test_snapshot_crash_mid_staging_rolls_all_back(spark, tmp_path):
    """Writer dies mid-staging: some members staged COMPLETELY (their
    own _SUCCESS present), others not, marker still PENDING. A member's
    private _SUCCESS must NOT publish it — the snapshot never
    committed, so every table reads back wholly old."""
    store = _seeded_store(spark, tmp_path)
    before = _pk_sets(store)
    env_before = sorted(
        (r["sensor_index"], r["data_time_stamp"], r["humidity"])
        for r in store.read(S.ENVIRONMENTAL).collect()
    )
    _stage_snapshot_then_crash(
        spark, store, tables_to_stage={S.ENVIRONMENTAL, S.STATION}
    )
    import os as _os

    assert atomic.is_committed(atomic.staging_path(store.path(S.ENVIRONMENTAL)))

    reopened = SensorTableStore(spark, store.base_path)
    assert _pk_sets(reopened) == before
    env_after = sorted(
        (r["sensor_index"], r["data_time_stamp"], r["humidity"])
        for r in reopened.read(S.ENVIRONMENTAL).collect()
    )
    assert env_after == env_before  # the staged-with-_SUCCESS member too
    for t in S.TABLE_NAMES:
        assert not _os.path.isdir(atomic.staging_path(store.path(t)))
    for marker in (atomic.SNAPSHOT_PENDING, atomic.SNAPSHOT_COMMIT):
        assert not _os.path.exists(_os.path.join(store.base_path, marker))


def test_upsert_and_compact_end_to_end_after_crash_history(spark, tmp_path):
    """Full-path sanity: a store that has healed from a crash still
    upserts and compacts correctly afterwards."""
    store = _seeded_store(spark, tmp_path)
    _stage_upsert_then_crash(spark, store)
    store = SensorTableStore(spark, store.base_path)

    store.upsert_wide(_wide(spark, BASE_TS, [[2, "s2", 77, 7.7, 0]]))
    env = {
        (r["sensor_index"], r["data_time_stamp"]): r["humidity"]
        for r in store.read(S.ENVIRONMENTAL).collect()
    }
    assert len(env) == 3
    assert 77 in env.values() and 99 in env.values()

    store.compact(S.ENVIRONMENTAL)
    assert store.read(S.ENVIRONMENTAL).count() == 3
    assert not os.path.isdir(atomic.staging_path(store.path(S.ENVIRONMENTAL)))


def _store_files(base):
    """Every file under the store root except the snapshot lease and
    markers: the tables' data, plus any staging left behind."""
    return sorted(
        os.path.relpath(os.path.join(root, f), base)
        for root, _, files in os.walk(base)
        for f in files
        if root != base or not f.startswith("_SNAPSHOT")
    )


def _keys(store):
    return {
        t: sorted(tuple(r) for r in store.read(t).select(*S.KEY_COLUMNS).collect())
        for t in S.TABLE_NAMES
    }


def test_failed_append_loses_no_reading_on_redelivery(spark, tmp_path, monkeypatch):
    """One non-STATION table's staging fails mid-append: the append
    rolls back in all nine tables, so the re-delivery's STATION key
    probe (dedup_against_existing) finds nothing and the reading lands
    everywhere — not in eight tables, with the ninth one row short and
    the reading lost from J1 for good."""
    store = _seeded_store(spark, tmp_path)
    before = _keys(store)
    files = _store_files(store.base_path)
    batch = _wide(spark, BASE_TS + 120, [[1, "s1", 42, 1.7, 0]])
    victim = store.path(S.PM1_0)
    keep_live = atomic.keep_live_files

    def failing_keep_live(live):
        if live == victim:
            raise RuntimeError("injected pm1_0 staging failure")
        return keep_live(live)

    with monkeypatch.context() as mp:
        mp.setattr(atomic, "keep_live_files", failing_keep_live)
        with pytest.raises(RuntimeError, match="injected"):
            store.append_wide(batch, dedup_against_existing=True)
    # rolled back in all nine tables: not one file added or lost
    reopened = SensorTableStore(spark, store.base_path)
    assert _store_files(store.base_path) == files

    reopened.append_wide(batch, dedup_against_existing=True)
    new_key = tuple(batch.select(*S.KEY_COLUMNS).first())
    after = _keys(reopened)
    for t in S.TABLE_NAMES:
        assert after[t] == sorted(before[t] + [new_key]), t
    assert reopened.reconstruct_reading().count() == 4


def test_append_spanning_two_dates_adds_one_sorted_file_per_date(spark, tmp_path):
    """The single stored layout keeps the store's file layout: an append
    touching two dates adds exactly one file per date to every table,
    its rows in (sensor_index, data_time_stamp) order."""
    store = _seeded_store(spark, tmp_path)
    files = set(_store_files(store.base_path))
    day2 = BASE_TS + 86400
    batch = (
        _wide(spark, BASE_TS + 600, [[3, "s3", 43, 1.8, 0], [1, "s1", 42, 1.7, 0]])
        .unionByName(_wide(spark, day2 + 900, [[2, "s2", 51, 2.6, 0], [1, "s1", 44, 1.9, 0]]))
        .unionByName(_wide(spark, BASE_TS + 300, [[3, "s3", 45, 2.0, 0], [2, "s2", 46, 2.1, 0]]))
        .unionByName(_wide(spark, day2 + 300, [[2, "s2", 52, 2.7, 0]]))
    )
    store.append_wide(batch, dedup_against_existing=True)
    added = set(_store_files(store.base_path)) - files
    for t in S.TABLE_NAMES:
        _assert_one_sorted_file_per_date(store, t, added)
    assert store.read(S.STATION).count() == 3 + 7


def _assert_one_sorted_file_per_date(store, table, files):
    """Of ``files`` (store-relative paths), ``table`` has exactly one
    parquet file in each of the two seeded dates, its rows in
    (sensor_index, data_time_stamp) order."""
    mine = [p for p in files if p.endswith(".parquet") and p.split(os.sep)[0] == table]
    assert sorted(p.split(os.sep)[1] for p in mine) == [
        f"{PARTITION_COL}=2022-08-05",
        f"{PARTITION_COL}=2022-08-06",
    ], table
    for p in mine:
        tbl = pq.read_table(os.path.join(store.base_path, p), columns=S.KEY_COLUMNS)
        keys = list(
            zip(
                tbl.column("sensor_index").to_pylist(),
                tbl.column("data_time_stamp").to_pylist(),
            )
        )
        assert keys == sorted(keys), (table, p)


def test_compact_rewrites_each_date_to_one_sorted_file(spark, tmp_path):
    """Compaction writes the store's one layout: a date whose files
    hold a lower sensor id appended after a higher one comes out as one
    file per date, rows in (sensor_index, data_time_stamp) order."""
    store = _seeded_store(spark, tmp_path)
    store.append_wide(_wide(spark, BASE_TS + 60, [[1, "s1", 42, 1.7, 0]]))
    store.compact(S.ENVIRONMENTAL)
    _assert_one_sorted_file_per_date(
        store, S.ENVIRONMENTAL, _store_files(store.base_path)
    )
    assert store.read(S.ENVIRONMENTAL).count() == 4


def test_partition_dates_are_utc_days_in_any_session_zone(spark, tmp_path):
    """A store written in UTC, read and upserted under a session zone
    whose calendar day differs: `read_range` finds the in-range row and
    an upsert replaces its key without losing or duplicating any other
    reading."""
    early = 1659668400  # 2022-08-05 03:00 UTC, 2022-08-04 in Los Angeles
    store = SensorTableStore(spark, str(tmp_path / "tables"))
    for ts in (early - 86400, early):
        store.append_wide(_wide(spark, ts, [[1, "s1", 40, 1.5, 0], [2, "s2", 50, 2.5, 0]]))
    before = _keys(store)
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        got = store.read_range(S.STATION, start_epoch=early, end_epoch=early + 60)
        assert got.count() == 2
        store.upsert_wide(_wide(spark, early, [[1, "s1", 99, 9.9, 0]]))
        assert _keys(store) == before
        humidity = sorted(r["humidity"] for r in store.read(S.ENVIRONMENTAL).collect())
        assert humidity == [40, 50, 50, 99]
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)


def test_append_refused_while_another_writer_holds_the_lease(spark, tmp_path):
    """The single-writer lease guards appends too: with a live foreign
    writer mid-snapshot, append_wide fails loudly and lands nothing."""
    store = _seeded_store(spark, tmp_path)
    files = _store_files(store.base_path)
    atomic.snapshot_begin(store.base_path, [], writer_id="other")
    with pytest.raises(atomic.SnapshotLeaseHeld):
        store.append_wide(_wide(spark, BASE_TS + 120, [[1, "s1", 42, 1.7, 0]]))
    assert _store_files(store.base_path) == files


def test_reopen_collects_stale_crash_orphans(spark, tmp_path):
    """Reopening runs the whole recovery cycle, `atomic.gc_orphans`
    included: a crashed writer's stale temp intent marker, lease aside
    and marker-less lease are gone afterwards, and no Spark job ran."""
    base = tmp_path / "tables"
    base.mkdir()
    orphans = [
        base / (atomic.SNAPSHOT_PENDING + ".tmp.abc"),
        base / (atomic.SNAPSHOT_LEASE + ".reclaimed.abc"),
        base / atomic.SNAPSHOT_LEASE,
    ]
    stale = time.time() - atomic.DEFAULT_LEASE_TTL - 60
    for p in orphans:
        p.write_text("w1\n")
        os.utime(p, (stale, stale))
    jobs = set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
    SensorTableStore(spark, str(base))
    assert sorted(os.listdir(base)) == []
    assert set(spark.sparkContext.statusTracker().getJobIdsForGroup(None)) == jobs
