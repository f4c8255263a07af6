"""Parquet table layer: the nine sensor tables, Spark-native.

Replaces the reference's sink zoo (TimescaleDB hypertables + SQLite +
CSV; SURVEY.md §2.8) with partitioned, clustered parquet tables:

* hypertable time-chunking  → ``partitionBy(reading_date)`` + Catalyst
  partition pruning (reference ``PurpleAirPSQLDataLogger.py:105-112``).
  A row's ``reading_date`` is the UTC day of its ``data_time_stamp`` in
  any session time zone (`_dated`); it is set once, when the row first
  enters the store, and read back, never recomputed;
* columnar compression with ``segmentby sensor_index / orderby
  data_time_stamp`` (``:129-136``) → ZSTD parquet in one layout
  (`_prepare`): one file per date, rows in (sensor_index,
  data_time_stamp) order — the same locality the TimescaleDB policy
  buys, but at write time. Appends, upserts and compaction all write it;
* PK-duplicate crash (plain INSERT, ``:153-347``) → idempotent
  dedup-on-write (documented deviation, SURVEY.md §7.4);
* one transaction per reading (``:347``) → every store write (append,
  upsert, compaction) is one all-or-none `sinks.atomic` snapshot
  publish (`SensorTableStore._publish`) under the store's single-writer
  lease; appends reach its partition swap via `atomic.keep_live_files`;
* nine INSERTs per reading → an append or upsert reads its source
  once: it stores the deduplicated batch (`materialize_once`) and
  stages the nine tables as column projections of it;
* retention policy → `apply_retention` partition-drop job;
* DROP ALL (``PurpleAirPSQLQueryStatements.py:543-553``) → `drop_all`.

A reader that lists a table without healing first can miss a touched
partition for the instant of its swap, never a torn nine-table state.
A compaction tick that overlaps an ingest fails with
`atomic.SnapshotLeaseHeld` instead of racing it.

At 100 TB: the date partition bounds every maintenance job, writes
shuffle once per batch on the date, and time-range readers
(`read_range`) get pruning on both the partition column and the
sensor_index sort within row groups (min/max page stats). Every read
is bound to the schema registry (`_scan`), so building one runs no
schema-inference job.
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil
import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from purpleair_data_logger_spark import schema as S
from purpleair_data_logger_spark.materialize import materialize_once
from purpleair_data_logger_spark.sinks import atomic

PARTITION_COL = "reading_date"
_DAY_SECONDS = 86400
_EPOCH_DATE = _dt.date(1970, 1, 1)


def _dated(df: DataFrame) -> DataFrame:
    """``df`` with its partition date. Rows read from the store keep
    their stored ``reading_date``; new rows get the UTC day of
    ``data_time_stamp``, whatever the session time zone (a session-zone
    date would file one instant under different dates in different
    sessions, and then pruning and upserts miss it)."""
    if PARTITION_COL in df.columns:
        return df
    day = F.floor(F.unix_seconds(F.col("data_time_stamp")) / _DAY_SECONDS)
    return df.withColumn(PARTITION_COL, F.date_from_unix_date(day.cast("int")))


def _epoch_date(epoch: int) -> _dt.date:
    """`_dated`'s rule for an epoch-seconds literal."""
    return _EPOCH_DATE + _dt.timedelta(days=epoch // _DAY_SECONDS)


class SensorTableStore:
    """Nine partitioned parquet tables rooted at ``base_path``."""

    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base_path = base_path
        self.heal()

    def heal(self) -> dict[str, str]:
        """Recover any write a crash interrupted (see `sinks.atomic`).
        Run on construction and before every write; returns {table:
        action} for the tables that needed repair. The multi-table
        snapshot (`_publish`'s all-or-none publish) heals FIRST, as a
        unit — its members must never be healed per-table, or a
        staged-but-unpublished member would roll forward alone. Last,
        `atomic.gc_orphans` collects the stale temp markers, lease
        asides and marker-less lease that no heal rolls."""
        actions = {}
        snap = atomic.heal_snapshot(self.base_path)
        if snap:
            actions["__snapshot__"] = snap
        for t in S.TABLE_NAMES:
            p = os.path.join(self.base_path, t)
            action = atomic.heal(p)
            if action:
                actions[t] = action
        atomic.gc_orphans(self.base_path)
        return actions

    def path(self, table: str) -> str:
        if table not in S.TABLE_NAMES:
            raise ValueError(f"unknown table {table!r}")
        return os.path.join(self.base_path, table)

    # -- write path --------------------------------------------------------

    @staticmethod
    def _prepare(df: DataFrame) -> DataFrame:
        """The store's one file layout, for every write (append, upsert,
        compaction). Shuffle ON the (`_dated`) partition column, so each
        output file covers exactly one date: one file per date per
        table, independent of task count. Repartitioning on
        sensor_index instead would emit tasks × dates files (the classic
        partitioned-write small-file explosion — measured 5x slower at
        sf0.1). The local sort leads with the date, so the partitioned
        writer keeps it and each file holds its rows in (sensor_index,
        ts) order, which is what gives row-group min/max pruning on
        sensor lookups.
        """
        return (
            _dated(df)
            .repartition(F.col(PARTITION_COL))
            .sortWithinPartitions(PARTITION_COL, "sensor_index", "data_time_stamp")
        )

    @staticmethod
    def _batch_dates(batch: DataFrame) -> list:
        """The dates a `_dated` batch touches."""
        return [r[0] for r in batch.select(PARTITION_COL).distinct().collect()]

    @staticmethod
    def _project(df: DataFrame, table: str) -> DataFrame:
        """``table``'s columns of a dated wide frame."""
        return df.select(*S.table_schema(table).fieldNames(), PARTITION_COL)

    def append_wide(
        self, wide: DataFrame, *, dedup_against_existing: bool = False
    ) -> None:
        """Write one wide at-rest frame into all nine tables, all or none.

        One micro-batch = one staged write per table (vs the reference's
        9 INSERTs + commit per reading) of the batch's new rows, PK
        duplicates dropped; `atomic.keep_live_files` links each touched
        partition's existing files in, so the swap rewrites no data.
        ``dedup_against_existing`` additionally anti-joins the batch
        against STATION's stored keys (R6 exactly-once on re-delivery)
        — they are every table's keys, as writes are all-or-none. The
        probe reads only the date partitions the batch touches, so it
        stays O(batch), not O(table), at any scale. Raises
        `atomic.SnapshotLeaseHeld` while another writer holds the lease;
        a reader that does not heal can miss a partition mid-swap.

        ``wide`` is read exactly once: the batch is stored (eagerly, so
        the nine concurrent stagings cannot each re-run a live source
        request), probed, laid out by `_prepare` once, and each table
        stages a column projection of that one stored layout.
        """

        def build() -> dict[str, DataFrame]:
            batch = _dated(wide.dropDuplicates(S.KEY_COLUMNS))
            if dedup_against_existing and os.path.isdir(self.path(S.STATION)):
                batch = materialize_once(batch, serialized=True, eager=True)
                existing = (
                    self._scan(S.STATION)
                    .filter(F.col(PARTITION_COL).isin(self._batch_dates(batch)))
                    .select(*S.KEY_COLUMNS)
                )
                batch = batch.join(existing, on=S.KEY_COLUMNS, how="left_anti")
            laid = materialize_once(self._prepare(batch), serialized=True, eager=True)
            return {t: self._project(laid, t) for t in S.TABLE_NAMES}

        self._publish(build, keep_live=True)

    def upsert_wide(self, wide: DataFrame) -> None:
        """Upsert: new readings insert, existing PKs take the batch's
        values — partition-scoped, crash-safe MERGE on plain parquet.

        Only the date partitions the batch touches (UTC days, in any
        session time zone) are rewritten: stored rows from those
        partitions that are NOT in the batch survive, with their stored
        ``reading_date``, via anti-join + union. Work is O(touched
        partitions), never O(table) — the parquet equivalent of Delta
        MERGE for this PK shape. ``wide`` is read exactly once, like an
        append's: the deduplicated batch is stored eagerly, and each
        table lays out (`_prepare`) a column projection of it plus its
        survivors. The rewrite goes through `_publish`: replacement
        partitions are staged to sibling dirs (readers never see
        them), then rename-swapped in only after the snapshot commits;
        a crash at any point leaves every table wholly old or wholly
        new, and `heal` finishes or discards the interrupted rewrite.
        """

        def build() -> dict[str, DataFrame]:
            batch = materialize_once(
                _dated(wide.dropDuplicates(S.KEY_COLUMNS)), serialized=True, eager=True
            )
            batch_dates = self._batch_dates(batch)
            keys = batch.select(*S.KEY_COLUMNS)
            frames = {}
            for table in S.TABLE_NAMES:
                out = self._project(batch, table)
                if os.path.isdir(self.path(table)):
                    survivors = (
                        self._scan(table)
                        .filter(F.col(PARTITION_COL).isin(batch_dates))
                        .join(keys, on=S.KEY_COLUMNS, how="left_anti")
                    )
                    out = out.unionByName(survivors)
                frames[table] = self._prepare(out)
            return frames

        self._publish(build)

    def _publish(self, build, tables=S.TABLE_NAMES, *, keep_live=False) -> None:
        """The store's one write path: heal, then stage ``build()``'s
        laid-out {table: frame} (built under the lease, so the stored
        rows it reads cannot change before the swap) and publish it
        into ``tables`` all-or-none; ``keep_live`` for appends."""
        self.heal()
        # All-or-none across the tables (the reference's
        # one-transaction contract, PurpleAirPSQLDataLogger.py:347):
        # stage EVERY table first under a _SNAPSHOT_PENDING intent
        # marker, then flip the marker and swap — a reader healing
        # after a crash at ANY point sees reading R in all nine tables
        # or in none, preserving the J1 reconstruction join's
        # PK-completeness invariant mid-publish.
        # Single-writer lease (atomic.py): a second concurrent writer
        # on the same store fails loudly here instead of silently
        # interleaving snapshot markers.
        token = atomic.snapshot_begin(
            self.base_path, [self.path(t) for t in tables]
        )

        def _stage(item):
            table, frame = item
            frame.write.mode("overwrite").partitionBy(PARTITION_COL).parquet(
                atomic.staging_path(self.path(table))
            )
            if keep_live:
                atomic.keep_live_files(self.path(table))

        # Heartbeat from a TIMER THREAD, not per staged-table
        # completion (ADVICE r7: pool.map yields in submission order,
        # so one staging longer than the lease TTL starved the
        # heartbeat and let a live writer be stale-reclaimed). A
        # vanished lease stops the beat quietly — the loud failure is
        # snapshot_commit's ownership check, not a daemon's traceback.
        stop_beat = threading.Event()

        def _beat() -> None:
            while not stop_beat.wait(atomic.HEARTBEAT_INTERVAL):
                if not atomic.snapshot_heartbeat(self.base_path):
                    # A missing lease is USUALLY a reclaim (stop quietly;
                    # the loud failure is snapshot_commit's ownership
                    # check) — but another store's release_lease momentarily
                    # renames the file aside before linking it back
                    # (ADVICE r8), so retry once after a short sleep
                    # before concluding the lease is really gone.
                    if stop_beat.wait(0.2):
                        return
                    if not atomic.snapshot_heartbeat(self.base_path):
                        return
        beater = threading.Thread(
            target=_beat, name="snapshot-lease-heartbeat", daemon=True
        )
        beater.start()
        try:
            frames = build()
            # The stagings are submitted from driver threads so they
            # share the executor pool concurrently (narrow jobs rarely
            # saturate it); their targets are disjoint directories, so
            # ordering is irrelevant. Every frame is in `_prepare`'s one
            # layout, its dates the UTC days of `_dated`. An upsert's
            # frames project one stored batch, an append's one stored
            # layout, instead of nine pipelines that each re-read the
            # source (and re-shuffle): a 950-row poll went
            # from 39 jobs and 6.2-8.0 s to 16 jobs and 3.6-4.2 s, and
            # bench.py's sf0.1 events ingest (100k rows) stayed at a
            # median 8.65 s (7.0-10.8 s before, 7.5-9.6 s after), so
            # the once-measured "3x slower" for one cached wide frame
            # does not hold (4-vCPU VM).
            with ThreadPoolExecutor(max_workers=len(frames)) as pool:
                list(pool.map(_stage, frames.items()))
        except BaseException:
            # in-process failure: roll the whole snapshot back now
            # (a crash instead would be healed identically on reopen);
            # the owner token authorizes healing our own fresh lease.
            # If the lease was reclaimed while we staged, the
            # reclaimer owns cleanup — don't mask the original error
            # with SnapshotLeaseHeld.
            stop_beat.set()
            beater.join(timeout=5)
            try:
                atomic.heal_snapshot(self.base_path, writer_id=token)
            except atomic.SnapshotLeaseHeld:
                pass
            raise
        stop_beat.set()
        beater.join(timeout=5)
        atomic.snapshot_commit(self.base_path, writer_id=token)

    # -- read path ---------------------------------------------------------

    def _scan(self, table: str) -> DataFrame:
        """The store's one table reader, with ``reading_date``. Bound to
        the registry's schema plus the DATE partition column, so no read
        starts a Spark job to infer the schema from a parquet footer."""
        schema = S.table_schema(table).add(PARTITION_COL, T.DateType())
        return self.spark.read.schema(schema).parquet(self.path(table))

    def read(self, table: str) -> DataFrame:
        return self._scan(table).drop(PARTITION_COL)

    def read_range(self, table: str, *, start_epoch: int, end_epoch: int) -> DataFrame:
        """``table``'s rows with ``start_epoch <= data_time_stamp <
        end_epoch``. The range's UTC days (`_dated`'s rule, in any
        session time zone) become literal ``reading_date`` partition
        filters, so the scan lists and reads only the dates in range."""
        start = F.timestamp_seconds(F.lit(start_epoch))
        end = F.timestamp_seconds(F.lit(end_epoch))
        ts, day = F.col("data_time_stamp"), F.col(PARTITION_COL)
        return (
            self._scan(table)
            .filter(day.between(_epoch_date(start_epoch), _epoch_date(end_epoch)))
            .filter((ts >= start) & (ts < end))
            .drop(PARTITION_COL)
        )

    def reconstruct_reading(self, tables: list[str] | None = None) -> DataFrame:
        """J1: the N-way PK equi-join rebuilding the logical wide row.

        All nine tables share partitioning and sort order, so at scale
        this plans as co-partitioned sort-merge joins with no extra
        sort; filtered single-sensor lookups broadcast the station row.
        """
        names = tables or list(S.TABLE_NAMES)
        out = self.read(names[0])
        for t in names[1:]:
            out = out.join(self.read(t), on=S.KEY_COLUMNS, how="inner")
        return out

    # -- lifecycle ---------------------------------------------------------

    def _partitions_older_than(self, table: str, days: int, now) -> dict:
        """{partition dir: date} of ``table``'s date partitions older
        than ``days`` before ``now`` (default: current UTC time)."""
        now = now or _dt.datetime.now(_dt.timezone.utc)
        cutoff = (now - _dt.timedelta(days=days)).date()
        root = self.path(table)
        out = {}
        for entry in sorted(os.listdir(root)) if os.path.isdir(root) else []:
            if not entry.startswith(f"{PARTITION_COL}="):
                continue
            try:
                d = _dt.date.fromisoformat(entry.split("=", 1)[1])
            except ValueError:
                continue
            if d < cutoff:
                out[entry] = d
        return out

    def apply_retention(self, table: str, *, keep_days: int, now=None) -> list[str]:
        """R7: drop date partitions older than ``keep_days``. Returns
        dropped partition dirs. Pure partition-prune-and-delete — never
        rewrites surviving data."""
        dropped = list(self._partitions_older_than(table, keep_days, now))
        for entry in dropped:
            shutil.rmtree(os.path.join(self.path(table), entry))
        return dropped

    def compact(self, table: str) -> None:
        """Compaction job: rewrite a table to one file per date
        partition in the store's one layout (`_prepare`: rows in
        (sensor_index, ts) order; small-file cleanup for long-running
        streaming appends). Rows keep their stored ``reading_date``.
        Crash-safe as a one-member `_publish` snapshot — an interrupted
        compaction heals forward or backward, never a loss — that fails
        with `atomic.SnapshotLeaseHeld` instead of racing a concurrent
        write.
        """
        self._compact(table)

    def _compact(self, table: str, dates=None) -> None:
        """Rewrite ``table``'s ``dates`` partitions (all when None)."""

        def build() -> dict[str, DataFrame]:
            df = self._scan(table)
            if dates is not None:
                df = df.filter(F.col(PARTITION_COL).isin(dates))
            return {table: self._prepare(df)}

        self._publish(build, (table,))

    # -- policy catalog (F8) ----------------------------------------------

    _POLICIES_FILE = "_policies.json"

    def _policies_path(self) -> str:
        return os.path.join(self.base_path, self._POLICIES_FILE)

    def _load_policies(self) -> list[dict]:
        import json

        p = self._policies_path()
        if not os.path.exists(p):
            return []
        with open(p) as fh:
            return json.load(fh)

    def _save_policies(self, policies: list[dict]) -> None:
        import json

        os.makedirs(self.base_path, exist_ok=True)
        tmp = self._policies_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(policies, fh, indent=1, sort_keys=True)
        os.replace(tmp, self._policies_path())

    def add_retention_policy(self, table: str, *, keep_days: int) -> bool:
        """Register a retention policy (drop date partitions older than
        ``keep_days``); returns whether a new policy was added. Mirrors
        the reference's add-if-absent flow: it SELECTs the Timescale
        job catalog for an existing policy before adding one
        (`PurpleAirPSQLDataLogger.py:120-127` over the F8 lookup,
        `PurpleAirPSQLQueryStatements.py:557-560`) — here the same
        check is one line against the persisted policy file, and
        duplicate registration is a no-op."""
        return self._add_policy(
            "policy_retention", table, {"keep_days": int(keep_days)}
        )

    def add_compression_policy(self, table: str, *, after_days: int) -> bool:
        """Register a compression/compaction policy: date partitions
        (UTC days) older than ``after_days`` are rewritten to one ZSTD
        file each in the store's one layout, rows in (sensor_index, ts)
        order — the Spark analog of Timescale's
        `add_compression_policy(..., INTERVAL '14 days')`
        (`PurpleAirPSQLDataLogger.py:129-136`). Add-if-absent like
        `add_retention_policy`."""
        return self._add_policy(
            "policy_compression", table, {"after_days": int(after_days)}
        )

    def add_stream_compaction_policy(
        self,
        sink_name: str,
        *,
        sink_path: str,
        lake_path: str,
        keep_last_batches: int = 1,
        target_files: int = 1,
        commit_mode: str | None = None,
    ) -> bool:
        """Register a streaming-sink compaction policy: each
        `run_policies` tick runs `streaming.compaction.
        fold_closed_batches` over ``sink_path`` → ``lake_path``, so the
        small-files tick shares the one scheduled maintenance entry
        point with retention and compression instead of needing its own
        scheduler slot. ``sink_name`` is a free-form label (stream
        sinks are not one of the nine store tables); add-if-absent per
        (kind, label) like the other policies. ``commit_mode`` pins the
        lake's commit protocol ("rename" POSIX/HDFS, "manifest" object
        stores) exactly as `fold_closed_batches` documents."""
        if commit_mode not in (None, "rename", "manifest"):
            raise ValueError(f"unknown commit_mode {commit_mode!r}")
        return self._add_policy(
            "policy_stream_compaction",
            sink_name,
            {
                "sink_path": sink_path,
                "lake_path": lake_path,
                "keep_last_batches": int(keep_last_batches),
                "target_files": int(target_files),
                "commit_mode": commit_mode,
            },
            validate_table=False,
        )

    def _add_policy(
        self,
        proc_name: str,
        table: str,
        config: dict,
        *,
        validate_table: bool = True,
    ) -> bool:
        if validate_table and table not in S.TABLE_NAMES:
            raise ValueError(f"unknown table {table!r}")
        policies = self._load_policies()
        for p in policies:
            if p["proc_name"] == proc_name and p["table"] == table:
                return False  # already registered — reference's no-op path
        policies.append(
            {"proc_name": proc_name, "table": table, "config": config}
        )
        self._save_policies(policies)
        return True

    def policy_catalog(self, proc_name: str | None = None) -> DataFrame:
        """F8: the policy-catalog introspection read — one row per
        registered lifecycle policy, optionally filtered by job kind,
        the exact query shape of the reference's
        ``SELECT ... FROM timescaledb_information.jobs WHERE
        proc_name='policy_compression'``. The catalog is data the
        store owns (a persisted JSON registry), so the read is a tiny
        driver-built DataFrame, never a scan."""
        import json

        rows = [
            (p["proc_name"], p["table"], json.dumps(p["config"], sort_keys=True))
            for p in self._load_policies()
        ]
        df = self.spark.createDataFrame(
            rows, "proc_name string, table_name string, config string"
        )
        if proc_name is not None:
            df = df.filter(F.col("proc_name") == proc_name)
        return df

    def run_policies(self, *, now=None, stream_fs=None) -> dict[str, object]:
        """Execute every registered policy once — the scheduled
        maintenance tick (Timescale's background job runner; here the
        caller owns scheduling, e.g. one Airflow/cron task). Returns
        {f"{proc_name}:{table}": outcome} — dropped partition dirs for
        retention, compacted partition count for compression, files
        folded for stream compaction.

        ``stream_fs``: filesystem binding handed to the
        stream-compaction ticks (the store's own nine tables are
        rename-bound by design, but a stream lake registered with
        ``commit_mode="manifest"`` lives on an object store whose
        binding must be injected here — without it the default POSIX
        binding would see no sink log on a remote path and quietly
        report 0 files folded forever, code-review r13)."""
        from purpleair_data_logger_spark import fsio as _fsio

        stream_fs = stream_fs or _fsio.POSIX
        results: dict[str, object] = {}
        for p in self._load_policies():
            key = f"{p['proc_name']}:{p['table']}"
            if p["proc_name"] == "policy_retention":
                results[key] = self.apply_retention(
                    p["table"], keep_days=p["config"]["keep_days"], now=now
                )
            elif p["proc_name"] == "policy_compression":
                results[key] = self.compact_older_than(
                    p["table"], after_days=p["config"]["after_days"], now=now
                )
            elif p["proc_name"] == "policy_stream_compaction":
                from purpleair_data_logger_spark.streaming import (
                    compaction as _compaction,
                )

                cfg = p["config"]
                results[key] = _compaction.fold_closed_batches(
                    self.spark,
                    cfg["sink_path"],
                    cfg["lake_path"],
                    keep_last_batches=cfg["keep_last_batches"],
                    target_files=cfg["target_files"],
                    commit_mode=cfg.get("commit_mode"),
                    fs=stream_fs,
                )
        return results

    def compact_older_than(self, table: str, *, after_days: int, now=None) -> int:
        """Compression-tier rewrite bounded to COLD date partitions
        (UTC days older than ``after_days``): each is rewritten in place
        to one ZSTD file in the store's one layout (`_prepare`) via
        `_compact`'s one-member snapshot. Hot partitions are untouched,
        so the job's cost is bounded by the cold set, not table size.
        Returns the number of partitions rewritten. Policy files whose
        config still carries the old file-count field run unchanged."""
        if not os.path.isdir(self.path(table)):
            return 0
        self.heal()
        cold = list(self._partitions_older_than(table, after_days, now).values())
        if cold:
            # the staged rewrite carries ONLY the cold partitions, and the
            # commit swap is O(staged partitions): hot data is never read,
            # rewritten, or renamed — the job's cost is the cold set.
            self._compact(table, cold)
        return len(cold)

    def drop_all(self, *, confirm: bool) -> None:
        """K4: destructive reset behind an explicit confirm flag
        (reference gates this on interactive y/n). Also clears any
        staging/retired leftovers from interrupted rewrites."""
        if not confirm:
            raise ValueError("drop_all requires confirm=True")
        for t in S.TABLE_NAMES:
            for p in (self.path(t), atomic.staging_path(self.path(t))):
                if os.path.isdir(p):
                    shutil.rmtree(p)


def write_csv_sink(df: DataFrame, path: str, *, mode: str = "append") -> None:
    """K3: CSV sink. Spark's writer quotes/escapes correctly — the
    reference's hand-rolled ``str(v) + ','`` concatenation corrupts on
    commas (PurpleAirCSVDataLogger.py:151-309); documented deviation."""
    df.write.mode(mode).option("header", True).csv(path)


def write_jdbc_sink(df: DataFrame, url: str, table: str, properties: dict, *, mode: str = "append") -> None:
    """K1/K2: JDBC sink (PSQL/SQLite parity) — one batched write per
    micro-batch instead of 9 row-at-a-time INSERTs."""
    df.write.jdbc(url=url, table=table, mode=mode, properties=properties)
