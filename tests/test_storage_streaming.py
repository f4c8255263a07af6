from __future__ import annotations

import datetime

import pytest

from purpleair_data_logger_spark import schema as S
from purpleair_data_logger_spark.operators import transforms as X
from purpleair_data_logger_spark.sinks.tables import SensorTableStore
from purpleair_data_logger_spark.sources import purpleair_api as api
from purpleair_data_logger_spark.sources.spark_datasource import payload_frame
from purpleair_data_logger_spark.streaming.continuous_aggregate import (
    batch_hourly_refresh,
    hourly_aggregate_plan,
)
from purpleair_data_logger_spark.streaming.poll import (
    PollIntervalError,
    PollLoop,
    validate_interval,
)

BASE_TS = 1659710232  # 2022-08-05 … UTC
ALIGNED_TS = BASE_TS - (BASE_TS % 3600)  # hour-aligned base for bucket tests


def _multi_payload(ts, rows):
    return {
        "api_version": "V1",
        "time_stamp": ts + 56,
        "data_time_stamp": ts,
        "fields": ["sensor_index", "name", "humidity", "pm2.5_atm", "last_seen"],
        "data": rows,
    }


def _store(spark, tmp_path) -> SensorTableStore:
    return SensorTableStore(spark, str(tmp_path / "tables"))


def test_append_read_reconstruct(spark, tmp_path):
    store = _store(spark, tmp_path)
    payload = _multi_payload(
        BASE_TS, [[1, "s1", 40, 1.5, BASE_TS - 10], [2, "s2", 50, 2.5, BASE_TS - 20]]
    )
    wide = X.cast_epoch_to_timestamp(payload_frame(spark, payload))
    store.append_wide(wide)

    env = store.read(S.ENVIRONMENTAL)
    assert env.count() == 2
    assert set(env.columns) == set(
        S.KEY_COLUMNS + [f.sql_name for f in S.group_fields(S.ENVIRONMENTAL)]
    )

    # J1: 9-way reconstruction returns the full logical reading
    full = store.reconstruct_reading()
    assert full.count() == 2
    assert len(full.columns) == 117
    row = {r["sensor_index"]: r for r in full.collect()}
    assert row[1]["humidity"] == 40
    assert row[2]["pm2_5_atm"] == 2.5


def test_append_dedup_on_pk(spark, tmp_path):
    store = _store(spark, tmp_path)
    payload = _multi_payload(BASE_TS, [[1, "s1", 40, 1.5, 0], [1, "s1", 40, 1.5, 0]])
    wide = X.cast_epoch_to_timestamp(payload_frame(spark, payload))
    store.append_wide(wide)  # duplicate PK within batch → one row
    assert store.read(S.STATION).count() == 1


def test_retention_drops_old_partitions(spark, tmp_path):
    store = _store(spark, tmp_path)
    old_ts = BASE_TS - 40 * 86400
    for ts in (old_ts, BASE_TS):
        payload = _multi_payload(ts, [[1, "s1", 40, 1.5, ts]])
        store.append_wide(X.cast_epoch_to_timestamp(payload_frame(spark, payload)))
    assert store.read(S.ENVIRONMENTAL).count() == 2

    now = datetime.datetime.fromtimestamp(BASE_TS, datetime.timezone.utc)
    dropped = store.apply_retention(S.ENVIRONMENTAL, keep_days=14, now=now)
    assert len(dropped) == 1
    assert store.read(S.ENVIRONMENTAL).count() == 1


def test_policy_catalog_f8_add_if_absent_and_run(spark, tmp_path):
    """F8 (previously the one intentionally-n/a §2 row): the
    policy-catalog introspection read plus the add-if-absent flow the
    reference runs against timescaledb_information.jobs
    (PurpleAirPSQLDataLogger.py:120-127 over
    PurpleAirPSQLQueryStatements.py:557-560). Policies persist across
    store instances, duplicate registration is a no-op, and
    run_policies executes retention (partition drop) + compression
    (cold-partition ZSTD rewrite) with hot data untouched."""
    store = _store(spark, tmp_path)
    old_ts = BASE_TS - 40 * 86400
    for ts in (old_ts, BASE_TS):
        payload = _multi_payload(ts, [[1, "s1", 40, 1.5, ts]])
        store.append_wide(X.cast_epoch_to_timestamp(payload_frame(spark, payload)))

    assert store.add_compression_policy(S.ENVIRONMENTAL, after_days=14) is True
    assert store.add_compression_policy(S.ENVIRONMENTAL, after_days=14) is False
    assert store.add_retention_policy(S.STATION, keep_days=14) is True

    # the F8 read: filtered catalog lookup, reference query shape
    rows = store.policy_catalog("policy_compression").collect()
    assert [(r["proc_name"], r["table_name"]) for r in rows] == [
        ("policy_compression", S.ENVIRONMENTAL)
    ]
    assert store.policy_catalog().count() == 2

    # persistence: a new store instance over the same path sees them
    store2 = SensorTableStore(spark, store.base_path)
    assert store2.policy_catalog().count() == 2

    now = datetime.datetime.fromtimestamp(BASE_TS, datetime.timezone.utc)
    results = store2.run_policies(now=now)
    assert results[f"policy_compression:{S.ENVIRONMENTAL}"] == 1
    assert len(results[f"policy_retention:{S.STATION}"]) == 1
    # compression preserved every row; retention dropped the old one
    assert store2.read(S.ENVIRONMENTAL).count() == 2
    assert store2.read(S.STATION).count() == 1
    # second tick: cold partition already rewritten is rewritten again
    # idempotently (same rows), retention finds nothing left to drop
    results2 = store2.run_policies(now=now)
    assert results2[f"policy_retention:{S.STATION}"] == []
    assert store2.read(S.ENVIRONMENTAL).count() == 2


def test_drop_all_requires_confirm(spark, tmp_path):
    store = _store(spark, tmp_path)
    with pytest.raises(ValueError):
        store.drop_all(confirm=False)
    store.drop_all(confirm=True)  # no-op on empty dirs


def test_poll_loop_interval_floor():
    with pytest.raises(PollIntervalError):
        validate_interval(59)
    assert validate_interval(60) == 60
    assert validate_interval(65) == 65


def test_poll_loop_end_to_end(spark, tmp_path):
    """R1: poll → conform → store micro-batches, stubbed transport."""
    calls = {"n": 0}

    def transport(req):
        calls["n"] += 1
        ts = BASE_TS + calls["n"] * 65
        return 200, _multi_payload(ts, [[1, "s1", 40, 1.5, ts], [2, "s2", 50, 2.5, ts]])

    sleeps: list[float] = []
    src = api.PurpleAirSource(spark, "K", transport=transport)
    store = _store(spark, tmp_path)
    loop = PollLoop(src, store, interval_seconds=65, sleep=sleeps.append)
    done = loop.run(mode="multi", iterations=3, fields="sensor_index,name")

    assert done == 3
    assert calls["n"] == 3
    assert sleeps == [65, 65]  # no trailing sleep after the last batch
    assert store.read(S.ENVIRONMENTAL).count() == 6


def test_hourly_aggregate_batch_and_refresh_window(spark, tmp_path):
    store = _store(spark, tmp_path)
    rows = []
    for h in range(5):
        for m in (0, 30):
            ts = ALIGNED_TS + h * 3600 + m * 60
            rows.append([1, "s1", 40 + h, 1.5 * h, ts])
    payload = _multi_payload(ALIGNED_TS, rows)
    wide = X.cast_epoch_to_timestamp(payload_frame(spark, payload))
    # stamp per-row data_time_stamp: zip uses the shared payload stamp,
    # so rebuild with distinct data_time_stamp per reading
    from pyspark.sql import functions as F

    wide = wide.withColumn("data_time_stamp", F.col("last_seen"))
    store.append_wide(wide.dropDuplicates(["data_time_stamp", "sensor_index"]))

    env = store.read(S.ENVIRONMENTAL)
    agg = hourly_aggregate_plan(env, value_cols=["humidity"])
    got = {r["bucket_hour"]: r for r in agg.collect()}
    assert len(got) == 5  # five distinct hours
    assert all(r["n_readings"] == 2 for r in got.values())

    # refresh window (now−3h, now−1h] only recomputes two buckets
    now = datetime.datetime.fromtimestamp(ALIGNED_TS + 4 * 3600 + 1800, datetime.timezone.utc).replace(tzinfo=None)
    refreshed = batch_hourly_refresh(
        spark, env, now=now, value_cols=["humidity"]
    )
    assert refreshed.count() == 2


def _session_rows(df):
    return sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"], r["duration_us"])
        for r in df.collect()
    )


def test_session_window_batch_equals_gaps_and_islands(spark, sf_dir):
    """Native session_window (batch run) must reproduce the oracled
    gaps-and-islands sessionization exactly — same half-open gap
    semantics, same per-session aggregates."""
    from purpleair_data_logger_spark.io import load_table
    from purpleair_data_logger_spark.operators.sessionize import session_stats
    from purpleair_data_logger_spark.streaming.sessionize import session_window_stats

    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    batch = session_stats(e, "user_id", "ts", gap_seconds=1800).drop("session_id")
    native = session_window_stats(e, "user_id", "ts", gap_seconds=1800)
    assert _session_rows(batch) == _session_rows(native)


def test_streaming_session_window_equals_batch(spark, sf_dir, tmp_path):
    """The streaming formulation over a file source must emit the same
    sessions the batch gaps-and-islands computes on the same data."""
    from purpleair_data_logger_spark.io import load_table
    from purpleair_data_logger_spark.operators.sessionize import session_stats
    from purpleair_data_logger_spark.streaming.sessionize import streaming_session_stats

    src = str(tmp_path / "events_src")
    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    # several files so the stream sees multiple input splits
    e.repartition(4).write.parquet(src)

    q = streaming_session_stats(
        spark,
        src,
        key_col="user_id",
        ts_col="ts",
        gap_seconds=1800,
        output_mode="complete",
        query_name="sess_cmp",
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"
    got = _session_rows(spark.table("sess_cmp"))
    want = _session_rows(
        session_stats(e, "user_id", "ts", gap_seconds=1800).drop("session_id")
    )
    assert got == want


def test_streaming_dedup_within_watermark_across_batches(spark, tmp_path):
    """R6 stream-native: a PK re-delivered in a later input file within
    the watermark must be dropped by the state store, not the sink."""
    from purpleair_data_logger_spark.streaming.dedup import streaming_pk_dedup

    src = str(tmp_path / "dd_src")
    rows1 = [(1, "2022-08-05 10:00:00", 40.0), (2, "2022-08-05 10:00:05", 50.0)]
    rows2 = [(1, "2022-08-05 10:00:00", 40.0), (3, "2022-08-05 10:00:10", 60.0)]
    cols = ["sensor_index", "ts", "humidity"]
    from pyspark.sql import functions as F

    for i, rows in enumerate([rows1, rows2]):
        (
            spark.createDataFrame(rows, cols)
            .withColumn("ts", F.to_timestamp("ts"))
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )

    q = streaming_pk_dedup(
        spark,
        src,
        str(tmp_path / "dd_out"),
        str(tmp_path / "dd_ckpt"),
        key_cols=["sensor_index", "ts"],
        ts_col="ts",
        watermark="1 hour",
        max_files_per_trigger=1,  # one micro-batch per file: true cross-batch state
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"
    out = spark.read.parquet(str(tmp_path / "dd_out"))
    got = sorted((r["sensor_index"], r["humidity"]) for r in out.collect())
    assert got == [(1, 40.0), (2, 50.0), (3, 60.0)]


def test_streaming_ewma_state_across_batches(spark, tmp_path):
    """The applyInPandasWithState EWMA must carry per-key state across
    micro-batches: the recursion over two separate input files must
    equal one sequential EWMA over the concatenated, time-sorted
    series."""
    from purpleair_data_logger_spark.streaming.ewma import ewma_pandas, streaming_ewma

    import numpy as np
    from pyspark.sql import functions as F

    src = str(tmp_path / "ew_src")
    batches = [
        [(1, "2022-08-05 10:00:00", 10.0), (1, "2022-08-05 10:01:00", 20.0),
         (2, "2022-08-05 10:00:30", 5.0)],
        [(1, "2022-08-05 10:02:00", 30.0), (2, "2022-08-05 10:01:30", 15.0)],
    ]
    for rows in batches:
        (
            spark.createDataFrame(rows, ["sensor_index", "ts", "value"])
            .withColumn("ts", F.to_timestamp("ts"))
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )

    q = streaming_ewma(
        spark,
        src,
        str(tmp_path / "ew_out"),
        str(tmp_path / "ew_ckpt"),
        key_col="sensor_index",
        ts_col="ts",
        value_col="value",
        alpha=0.3,
        max_files_per_trigger=1,  # one micro-batch per file: true state carry-over
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"
    out = spark.read.parquet(str(tmp_path / "ew_out")).collect()
    got = {
        (r["sensor_index"], str(r["ts"])): r["ewma"] for r in out
    }
    assert len(got) == 5
    # reference: sequential EWMA over each key's full time-sorted series
    series = {}
    for rows in batches:
        for k, ts, v in rows:
            series.setdefault(k, []).append((ts, v))
    for k, pairs in series.items():
        pairs.sort()
        expected = ewma_pandas(np.array([v for _, v in pairs]), 0.3, None)
        for (ts, _), e in zip(pairs, expected):
            assert abs(got[(k, ts)] - e) < 1e-12


def test_streaming_hourly_aggregate_available_now(spark, tmp_path):
    from purpleair_data_logger_spark.streaming.continuous_aggregate import (
        streaming_hourly_aggregate,
    )

    store = _store(spark, tmp_path)
    rows = []
    for h in range(4):
        ts = ALIGNED_TS + h * 3600
        rows.append([1, "s1", 40 + h, 1.5, ts])
    payload = _multi_payload(ALIGNED_TS, rows)
    from pyspark.sql import functions as F

    wide = X.cast_epoch_to_timestamp(payload_frame(spark, payload)).withColumn(
        "data_time_stamp", F.col("last_seen")
    )
    store.append_wide(wide)

    q = streaming_hourly_aggregate(
        spark,
        store.path(S.ENVIRONMENTAL),
        str(tmp_path / "agg"),
        str(tmp_path / "ckpt"),
        value_cols=["humidity"],
        available_now=True,
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"
    out = spark.read.parquet(str(tmp_path / "agg"))
    # append mode emits only watermark-closed windows: with a 2h
    # watermark over 4 hourly points, the first 2 windows are closed
    assert out.count() >= 1
    assert set(out.columns) == {"bucket_hour", "sensor_index", "n_readings", "max_humidity"}


def test_streaming_curation_matches_batch_and_dedups_across_batches(spark, tmp_path):
    """The streaming curation pipeline must (a) produce the same
    stateless features as the batch operators and (b) drop an exact
    duplicate re-delivered in a LATER micro-batch via watermark state."""
    from pyspark.sql import functions as F

    from purpleair_data_logger_spark.operators import pii as pii_ops
    from purpleair_data_logger_spark.streaming.curation import run_curation_stream

    src = str(tmp_path / "cur_src")
    batch1 = [
        (1, "2024-03-01 10:00:00", "the quick fox mail me at a@b.io today"),
        (2, "2024-03-01 10:00:05", "der hund und die katze ist hier"),
    ]
    batch2 = [
        (3, "2024-03-01 10:00:10", "THE QUICK fox, mail me at a@b.io today!"),  # dup of 1 after normalize
        (4, "2024-03-01 10:00:15", "le chat et le chien est la"),
    ]
    cols = ["doc_id", "ingest_ts", "text"]
    for rows in (batch1, batch2):
        (
            spark.createDataFrame(rows, cols)
            .withColumn("ingest_ts", F.to_timestamp("ingest_ts"))
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )

    q = run_curation_stream(
        spark, src, str(tmp_path / "cur_out"), str(tmp_path / "cur_ckpt")
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"
    out = {r["doc_id"]: r for r in spark.read.parquet(str(tmp_path / "cur_out")).collect()}

    # (b) cross-batch dedup: doc 3 normalizes to doc 1's text -> dropped
    assert set(out) == {1, 2, 4}
    # (a) stateless stages match the batch operators
    assert out[1]["clean_text"] == "the quick fox mail me at <EMAIL> today"
    assert out[1]["n_tokens"] == 8
    assert out[1]["predicted_lang"] == "en"
    assert out[2]["predicted_lang"] == "de"
    assert out[4]["predicted_lang"] == "fr"
    import re

    for r in out.values():
        assert not re.search(pii_ops.EMAIL_RE, r["clean_text"])


def test_streaming_corpus_build_splits_and_packs_end_to_end(spark, tmp_path):
    """VERDICT r3 #7: the streaming surface must compose the same final
    stages as the batch corpus_build_final — curation, LEAKAGE-SAFE
    split assignment off the batch cluster artifact, and sequence
    packing — end to end. Checks: (a) clustered docs inherit their
    cluster's split bucket (a near-dup of a train doc can never land in
    test), (b) split draws match the batch assign_split exactly,
    (c) per-batch packing covers every train doc with contiguous
    offsets per (batch, shard)."""
    from pyspark.sql import functions as F

    from purpleair_data_logger_spark.operators import sampling as smp
    from purpleair_data_logger_spark.streaming.curation import (
        DEFAULT_SPLITS,
        run_corpus_build_stream,
    )

    src = str(tmp_path / "cb_src")
    rows1 = [(i, "2024-03-01 10:00:%02d" % i, f"doc number {i} body text " * 3)
             for i in range(1, 6)]
    rows2 = [(i, "2024-03-01 10:01:%02d" % (i - 10), f"fresh crawl {i} page content " * 3)
             for i in range(11, 16)]
    cols = ["doc_id", "ingest_ts", "text"]
    for rows in (rows1, rows2):
        (
            spark.createDataFrame(rows, cols)
            .withColumn("ingest_ts", F.to_timestamp("ingest_ts"))
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
    # batch-side cluster artifact: docs 2 and 12 are near-dups of doc 1
    # (one cluster, canonical id 1); everything else unclustered.
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (12, 1)], "doc_id long, cluster_id long"
    )

    # benchmark doc reproducing doc 14's content: every one of its
    # 5-grams carries the "14" token (4-grams would also match the
    # number-free wraparound gram shared by all docs), so exactly doc
    # 14 is flagged and removed
    bench = spark.createDataFrame(
        [(901, "fresh crawl 14 page content fresh crawl 14")],
        "doc_id long, text string",
    )

    # batch-built frozen vocabulary artifact for the encode stage
    from purpleair_data_logger_spark.operators import text as tx

    vocab = tx.vocabulary(
        spark.read.parquet(src), "doc_id", "text", top_k=8
    ).localCheckpoint()

    out = str(tmp_path / "cb_out")
    q = run_corpus_build_stream(
        spark, src, out, str(tmp_path / "cb_ckpt"),
        cluster_assignments=clusters, benchmark_df=bench,
        vocabulary_df=vocab, contamination_ngram=5,
        pack_budget=64, pack_shards=2,
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"

    contaminated = {
        r["doc_id"] for r in spark.read.parquet(f"{out}/contaminated").collect()
    }
    assert contaminated == {14}

    curated = spark.read.parquet(f"{out}/curated").collect()
    by_id = {r["doc_id"]: r for r in curated}
    assert set(by_id) == {1, 2, 3, 4, 5, 11, 12, 13, 15}

    # (a) the whole cluster shares one split (keyed on cluster_id=1)
    cluster_splits = {by_id[i]["split"] for i in (1, 2, 12)}
    assert len(cluster_splits) == 1
    # (b) every draw equals the batch-side assign_split on the same key
    keyed = spark.createDataFrame(
        [(r["doc_id"], r["cluster_id"] if r["cluster_id"] is not None else r["doc_id"])
         for r in curated],
        "doc_id long, key long",
    )
    batch_draw = {
        r["doc_id"]: r["split"]
        for r in smp.assign_split(keyed, "key", DEFAULT_SPLITS).collect()
    }
    assert {i: r["split"] for i, r in by_id.items()} == batch_draw

    # (c) packing covers exactly the train docs, offsets contiguous
    packed = spark.read.parquet(f"{out}/packed").collect()
    train_ids = {i for i, r in by_id.items() if r["split"] == "train"}
    assert {r["doc_id"] for r in packed} == train_ids
    groups: dict = {}
    for r in packed:
        groups.setdefault((r["batch_id"], r["shard"]), []).append(r)
    for rows in groups.values():
        rows.sort(key=lambda r: r["start_offset"])
        expect = 0
        for r in rows:
            assert r["start_offset"] == expect
            expect += by_id[r["doc_id"]]["n_tokens"]

    # (d) encode: every train doc numericalized against the FROZEN
    # batch vocab — streaming ids must equal the batch-side encode on
    # the same curated text, byte for byte
    encoded = spark.read.parquet(f"{out}/encoded").collect()
    assert {r["doc_id"] for r in encoded} == train_ids
    train_curated = spark.createDataFrame(
        [(i, by_id[i]["clean_text"]) for i in train_ids],
        "doc_id long, clean_text string",
    )
    batch_enc = {
        r["doc_id"]: r
        for r in tx.encode_with_vocabulary(
            train_curated, "doc_id", "clean_text", vocab=vocab
        ).collect()
    }
    for r in encoded:
        b = batch_enc[r["doc_id"]]
        assert r["token_ids"] == b["token_ids"]
        assert r["n_oov"] == b["n_oov"] and r["n_tokens"] == b["n_tokens"]


def test_streaming_incremental_neardup_matches_batch(spark, tmp_path, sf_dir):
    """The streaming ingest-dedup must find exactly the pairs the batch
    `neardup_lsh_between` finds on the same (new, base) split, with the
    new side delivered across two micro-batches — and route only
    genuinely-new docs to the fresh sink."""
    from pyspark.sql import functions as F

    from purpleair_data_logger_spark import io as pio
    from purpleair_data_logger_spark.operators import dedup as dd
    from purpleair_data_logger_spark.streaming.neardup import (
        run_incremental_neardup_stream,
    )

    docs = pio.load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text")

    src = str(tmp_path / "nd_src")
    # two micro-batches: split the new side by parity of doc_id/10
    new.filter((F.col("doc_id") / 10) % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    new.filter((F.col("doc_id") / 10) % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    out = str(tmp_path / "nd_out")
    q = run_incremental_neardup_stream(
        spark, src, base, out, str(tmp_path / "nd_ckpt"), threshold=0.8
    )
    q.awaitTermination(180)

    got = {
        (r["new_doc_id"], r["base_doc_id"], r["jaccard"])
        for r in spark.read.parquet(f"{out}/pairs").collect()
    }
    want = {
        (r["new_doc_id"], r["base_doc_id"], r["jaccard"])
        for r in dd.neardup_lsh_between(
            new, base, "doc_id", "text", threshold=0.8
        ).collect()
    }
    assert got == want and want  # parity, and the fixture plants dups

    fresh = {r["doc_id"] for r in spark.read.parquet(f"{out}/fresh").collect()}
    matched = {p[0] for p in want}
    all_new = {r["doc_id"] for r in new.collect()}
    assert fresh == all_new - matched


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static dimension enrichment: stateless per-micro-batch
    join, dimension broadcast (pinned on the equivalent batch plan —
    stream-static joins plan the static side identically per batch)."""
    from pyspark.sql import functions as F

    from purpleair_data_logger_spark.plans import explain as E
    from purpleair_data_logger_spark.streaming.enrich import enrich_stream

    src = str(tmp_path / "en_src")
    rows = [(1, "2022-08-05 10:00:00", 40.0), (2, "2022-08-05 10:00:05", 50.0),
            (9, "2022-08-05 10:00:10", 60.0)]
    (
        spark.createDataFrame(rows, ["sensor_index", "ts", "value"])
        .withColumn("ts", F.to_timestamp("ts"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(src)
    )
    dim = spark.createDataFrame(
        [(1, "backyard"), (2, "roof")], ["sensor_index", "name"]
    )

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    enriched = enrich_stream(stream, dim, ["sensor_index"])
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"
    got = {
        r["sensor_index"]: r["name"]
        for r in spark.sql("SELECT * FROM enriched_t").collect()
    }
    assert got == {1: "backyard", 2: "roof", 9: None}  # left join keeps 9

    batch_plan = E.formatted_plan(
        enrich_stream(spark.read.parquet(src), dim, ["sensor_index"])
    )
    assert E.count(batch_plan, "BroadcastHashJoin") == 1


def test_stream_stream_interval_join_matches_batch_range_join(spark, tmp_path):
    """Native stream-stream interval join (watermark-bounded state)
    must equal the bucketized batch range join row-for-row on the same
    inputs."""
    from pyspark.sql import functions as F

    from purpleair_data_logger_spark.io import load_table
    from purpleair_data_logger_spark.operators.rangejoin import bounded_range_join
    from purpleair_data_logger_spark.streaming.join import interval_join

    events = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    src = str(tmp_path / "ij_src")
    events.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def side(df, etype):
        return df.filter(F.col("event_type") == etype).select(
            "user_id", "ts", "event_id"
        )

    batch = bounded_range_join(
        side(events, "error"),
        side(events, "click"),
        ["user_id"],
        "ts",
        "ts",
        gap_seconds=600,
        left_prefix="e_",
        right_prefix="c_",
    ).select("e_event_id", "c_event_id")
    expected = sorted(
        (r["e_event_id"], r["c_event_id"]) for r in batch.collect()
    )
    assert expected, "fixture produced no pairs — gap too small for testdata"

    stream = spark.readStream.schema(schema).parquet(src)
    joined = interval_join(
        side(stream, "error"),
        side(stream, "click"),
        "user_id",
        "ts",
        "ts",
        gap_seconds=600,
        left_watermark="1 hour",
        right_watermark="1 hour",
        left_prefix="e_",
        right_prefix="c_",
    )
    q = (
        joined.select("e_event_id", "c_event_id")
        .writeStream.format("memory")
        .queryName("ij_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"
    got = sorted(
        (r["e_event_id"], r["c_event_id"])
        for r in spark.sql("SELECT * FROM ij_t").collect()
    )
    assert got == expected


def test_streaming_spike_flags_state_across_batches(spark, tmp_path):
    """The EWMA-variance anomaly operator must carry (mean, var, n)
    across micro-batches: a spike arriving in the SECOND file flags
    against the baseline learned in the first, and every row's flag
    equals a sequential replay of the same arithmetic."""
    import numpy as np
    from pyspark.sql import functions as F

    from purpleair_data_logger_spark.streaming.anomaly import (
        ewmv_flags_pandas,
        spike_flags_by_key,
    )

    src = str(tmp_path / "an_src")
    calm = [(1, f"2022-08-05 10:{m:02d}:00", 10.0 + (m % 3) * 0.2) for m in range(8)]
    batch2 = [
        (1, "2022-08-05 10:08:00", 10.2),
        (1, "2022-08-05 10:09:00", 80.0),  # spike vs batch-1 baseline
        (1, "2022-08-05 10:10:00", 10.0),
    ]
    for rows in (calm, batch2):
        (
            spark.createDataFrame(rows, ["sensor_index", "ts", "value"])
            .withColumn("ts", F.to_timestamp("ts"))
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = spike_flags_by_key(
        stream, "sensor_index", "ts", "value", alpha=0.1, z=3.0, min_samples=5
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "an_out"))
        .option("checkpointLocation", str(tmp_path / "an_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"
    got = {
        str(r["ts"]): r["is_spike"]
        for r in spark.read.parquet(str(tmp_path / "an_out")).collect()
    }
    assert len(got) == 11
    assert got["2022-08-05 10:09:00"] is True
    assert sum(got.values()) == 1  # only the planted spike flags
    # exact parity with the sequential reference over the merged series
    series = sorted(calm + batch2)
    flags, _ = ewmv_flags_pandas(
        np.array([v for _, _, v in series]), 0.1, 3.0, 5, None
    )
    for (k, ts, v), f in zip(series, flags):
        assert got[ts] == bool(f), ts


def test_streaming_m4_matches_batch_operator(spark, tmp_path):
    """The streaming M4 plan over a parquet stream must equal the
    batch operator on the same data (same extremes, same tie rules,
    same bucket alignment), with append mode emitting exactly the
    watermark-closed windows."""
    import datetime as _dt

    from purpleair_data_logger_spark.operators import hyperfunctions as hf
    from purpleair_data_logger_spark.streaming.downsample import (
        m4_stream_plan,
        streaming_m4_downsample,
    )

    base = _dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = [
        (i, "k%d" % (i % 3), base + _dt.timedelta(seconds=i * 97), float((i * 31) % 17))
        for i in range(400)
    ]
    src = str(tmp_path / "src")
    df = spark.createDataFrame(
        rows, "id long, key string, ts timestamp, value double"
    )
    df.write.parquet(src)

    # 1) plan parity: the windowed M4 plan on a BATCH frame equals the
    #    batch operator's epoch-floor bucketing exactly.
    batch = {
        tuple(r)
        for r in hf.m4_downsample(df, "ts", "key", "value", 600).collect()
    }
    windowed = {
        tuple(r)
        for r in m4_stream_plan(
            spark.read.parquet(src), "ts", "key", "value", 600
        ).collect()
    }
    assert windowed == batch

    # 2) streaming run: availableNow over the same source; append mode
    #    emits the watermark-closed prefix of those same rows.
    q = streaming_m4_downsample(
        spark,
        src,
        str(tmp_path / "m4"),
        str(tmp_path / "ckpt_m4"),
        ts_col="ts",
        key_col="key",
        value_col="value",
        bucket_seconds=600,
        watermark="30 minutes",
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"
    out = spark.read.parquet(str(tmp_path / "m4"))
    got = {tuple(r) for r in out.collect()}
    assert got  # at least the early windows closed
    assert got <= batch  # every emitted pixel is final and identical


def test_streaming_counter_increments_match_batch_delta(spark, tmp_path):
    """Per-event reset-aware increments with cross-batch state: one
    file per micro-batch so the previous value must be CARRIED, then a
    plain bucketed SUM over the emitted increments must equal the
    batch counter_delta operator exactly (same bucket-charging rule)."""
    import datetime as _dt

    from purpleair_data_logger_spark.operators import hyperfunctions as hf
    from purpleair_data_logger_spark.streaming.counter import (
        streaming_counter_increments,
    )

    base = _dt.datetime(2024, 5, 1, 0, 0, 0)
    # two keys, values that grow and RESET across the file boundary
    batches = [
        [(1, "a", 0, 10.0), (2, "a", 70, 15.5), (3, "b", 30, 100.0)],
        [(4, "a", 140, 2.0), (5, "b", 95, 1.0), (6, "b", 150, 7.25)],
        [(7, "a", 200, 8.0)],
    ]
    src = str(tmp_path / "csrc")
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            [
                (rid, k, base + _dt.timedelta(seconds=s), v)
                for rid, k, s, v in rows
            ],
            "id long, key string, ts timestamp, value double",
        ).coalesce(1).write.mode("append").parquet(src)

    q = streaming_counter_increments(
        spark,
        src,
        str(tmp_path / "cinc"),
        str(tmp_path / "cckpt"),
        key_col="key",
        ts_col="ts",
        id_col="id",
        value_col="value",
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"

    inc = spark.read.parquet(str(tmp_path / "cinc"))
    # 1) per-event semantics: resets detected across the batch boundary
    by_id = {r["id"]: (r["increment"], r["is_reset"]) for r in inc.collect()}
    assert by_id[1] == (0.0, False)      # first-ever reading of "a"
    assert by_id[2] == (5.5, False)
    assert by_id[4] == (2.0, True)       # reset carried across batches
    assert by_id[5] == (1.0, True)
    assert by_id[6] == (6.25, False)

    # 2) bucketed SUM over increments == the batch operator
    from pyspark.sql import functions as F
    from purpleair_data_logger_spark.operators.aggregations import time_bucket

    all_rows = spark.read.parquet(src)
    batch = {
        (r["key"], r["bucket_ts"]): (
            r["counter_delta"],
            r["n_resets"],
            r["n_samples"],
        )
        for r in hf.counter_delta(
            all_rows, "ts", "key", "value", "id", 120
        ).collect()
    }
    rolled = {
        (r["key"], r["bucket_ts"]): (
            r["counter_delta"],
            r["n_resets"],
            r["n_samples"],
        )
        for r in inc.groupBy(
            time_bucket("ts", 120).alias("bucket_ts"), "key"
        )
        .agg(
            # exact rollup: sum the scaled BIGINTs, divide once — the
            # batch operator's arithmetic, order-independent
            (F.sum("increment_scaled").cast("double") / F.lit(100.0)).alias(
                "counter_delta"
            ),
            F.sum(F.col("is_reset").cast("long")).alias("n_resets"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .collect()
    }
    assert rolled == batch


def test_streaming_counter_null_values_carry_no_sample(spark, tmp_path):
    """NULL contract parity with batch counter_delta (round-4
    advisory): a NULL reading emits no increment row and leaves the
    carried per-key state untouched — without the filter,
    scale_half_up's NaN→int64 cast is undefined and poisons last_c
    for every subsequent event of the key."""
    import datetime as _dt

    from purpleair_data_logger_spark.streaming.counter import (
        streaming_counter_increments,
    )

    base = _dt.datetime(2024, 5, 2, 0, 0, 0)
    batches = [
        [(1, "a", 0, 10.0)],
        [(2, "a", 60, None), (3, "b", 30, None)],  # NULL readings
        [(4, "a", 120, 15.0), (5, "b", 90, 2.0)],
    ]
    src = str(tmp_path / "cnsrc")
    for rows in batches:
        spark.createDataFrame(
            [
                (rid, k, base + _dt.timedelta(seconds=s), v)
                for rid, k, s, v in rows
            ],
            "id long, key string, ts timestamp, value double",
        ).coalesce(1).write.mode("append").parquet(src)

    q = streaming_counter_increments(
        spark,
        src,
        str(tmp_path / "cninc"),
        str(tmp_path / "cnckpt"),
        key_col="key",
        ts_col="ts",
        id_col="id",
        value_col="value",
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"

    inc = spark.read.parquet(str(tmp_path / "cninc"))
    by_id = {r["id"]: (r["increment"], r["is_reset"]) for r in inc.collect()}
    assert set(by_id) == {1, 4, 5}          # NULL rows emit nothing
    assert by_id[1] == (0.0, False)
    assert by_id[4] == (5.0, False)         # 15-10 vs the CARRIED 10.0
    assert by_id[5] == (0.0, False)         # b's first real sample


def test_streaming_heartbeat_late_reading_before_held_is_dropped(spark, tmp_path):
    """Cross-batch disorder (round-4 advisory): a later micro-batch
    delivering a reading OLDER than the held one (legal within the
    watermark) must be dropped, not folded in — folding regressed the
    held state, silently lost the held interval, and later re-emitted
    intervals overlapping already-written ones."""
    import datetime as _dt

    from purpleair_data_logger_spark.streaming.heartbeat import (
        streaming_heartbeat_intervals,
    )

    base = _dt.datetime(2024, 6, 2, 0, 0, 0)

    def t(s):
        return base + _dt.timedelta(seconds=s)

    src = str(tmp_path / "hblsrc")
    batches = [
        [(1, "a", 0), (2, "a", 100)],   # emits (0,60); held=100
        [(3, "a", 50)],                 # LATE: before held -> dropped
        [(6, "zz", 3600)],              # watermark advance
        [(7, "zz", 7200)],              # timeout flush batch
    ]
    for rows in batches:
        spark.createDataFrame(
            [(rid, k, t(s)) for rid, k, s in rows],
            "id long, key string, ts timestamp",
        ).coalesce(1).write.mode("append").parquet(src)

    q = streaming_heartbeat_intervals(
        spark,
        src,
        str(tmp_path / "hblout"),
        str(tmp_path / "hblckpt"),
        key_col="key",
        ts_col="ts",
        id_col="id",
        timeout_seconds=60,
        watermark="10 minutes",   # wide enough that the late row is legal
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"

    out = spark.read.parquet(str(tmp_path / "hblout"))
    base_us = int((base - _dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    got = sorted(
        ((r["t_us"] - base_us) // 1_000_000,
         (r["end_us"] - base_us) // 1_000_000)
        for r in out.filter("key = 'a'").collect()
    )
    # the held interval survives and nothing overlaps: (0,60) + the
    # timeout flush (100,160). The regression emitted (50,110) instead.
    assert got == [(0, 60), (100, 160)]
    for (a1, a2), (b1, b2) in zip(got, got[1:]):
        assert a2 <= b1  # non-overlapping, ordered


def test_streaming_heartbeat_intervals_match_batch(spark, tmp_path):
    """Stateful interval closure across micro-batches: a newer reading
    truncates the held interval (even from a LATER batch), and the
    event-time timeout flushes the tail once the watermark passes
    last + timeout. The emitted interval set must be exactly the batch
    operator's [ts, min(next, ts+timeout)) chain, and its clip-to-
    bucket rollup must equal batch heartbeat_uptime."""
    import datetime as _dt

    from purpleair_data_logger_spark.operators import hyperfunctions as hf
    from purpleair_data_logger_spark.streaming.heartbeat import (
        streaming_heartbeat_intervals,
    )

    base = _dt.datetime(2024, 6, 1, 0, 0, 0)

    def t(s):
        return base + _dt.timedelta(seconds=s)

    src = str(tmp_path / "hbsrc")
    batches = [
        [(1, "a", 0), (2, "a", 40), (3, "b", 10)],
        [(4, "a", 130), (5, "b", 200)],
        [(6, "zz", 3600)],   # sentinel: advances the watermark
        [(7, "zz", 7200)],   # second sentinel: timeout batch runs past it
    ]
    for rows in batches:
        spark.createDataFrame(
            [(rid, k, t(s)) for rid, k, s in rows],
            "id long, key string, ts timestamp",
        ).coalesce(1).write.mode("append").parquet(src)

    q = streaming_heartbeat_intervals(
        spark,
        src,
        str(tmp_path / "hbout"),
        str(tmp_path / "hbckpt"),
        key_col="key",
        ts_col="ts",
        id_col="id",
        timeout_seconds=60,
        watermark="1 second",
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"

    out = spark.read.parquet(str(tmp_path / "hbout"))
    base_us = int((base - _dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    got = {
        (r["key"], (r["t_us"] - base_us) // 1_000_000,
         (r["end_us"] - base_us) // 1_000_000)
        for r in out.filter("key != 'zz'").collect()
    }
    # a: 0->40 (truncated), 40->100 (full timeout; 130 is later),
    #    130->190 (timeout flush); b: 10->70, 200->260 (flush)
    assert got == {
        ("a", 0, 40),
        ("a", 40, 100),
        ("a", 130, 190),
        ("b", 10, 70),
        ("b", 200, 260),
    }

    # rollup parity: clip emitted intervals to 60 s buckets == batch
    want = {
        (r["key"], r["bucket_ts"]): r["uptime_us"]
        for r in hf.heartbeat_uptime(
            spark.read.parquet(src).filter("key != 'zz'"),
            "ts",
            "key",
            "id",
            60,
            60,
        ).collect()
    }
    rolled: dict = {}
    for r in out.filter("key != 'zz'").collect():
        b = r["t_us"] // 60_000_000
        while b * 60_000_000 < r["end_us"]:
            lo = max(r["t_us"], b * 60_000_000)
            hi = min(r["end_us"], (b + 1) * 60_000_000)
            key = (r["key"], _dt.datetime(1970, 1, 1)
                   + _dt.timedelta(seconds=b * 60))
            rolled[key] = rolled.get(key, 0) + (hi - lo)
            b += 1
    assert rolled == want


def test_streaming_downtime_closed_match_batch_and_open_alerts(spark, tmp_path):
    """VERDICT r4 #5: the alerting mirror of gap_incidents. Closed
    (``closed=true``) rows must equal the batch operator's incident
    set exactly — including a gap whose endpoints arrive in different
    micro-batches — and a sensor that stays dark must raise exactly
    ONE open (``closed=false``) alert once the watermark proves the
    silence, later superseded (not retracted) by its closed row if the
    sensor returns."""
    import datetime as _dt

    from purpleair_data_logger_spark.operators import hyperfunctions as hf
    from purpleair_data_logger_spark.streaming.downtime import (
        streaming_downtime_incidents,
    )

    base = _dt.datetime(2024, 7, 1, 0, 0, 0)

    def t(s):
        return base + _dt.timedelta(seconds=s)

    src = str(tmp_path / "dtsrc")
    batches = [
        [(1, "a", 0), (2, "a", 40), (3, "b", 10)],
        [(4, "a", 130)],                  # closes a's 40->130 gap (90s)
        [(5, "a", 160), (6, "zz", 3600)],  # watermark advance; b alert due
        [(7, "zz", 7200)],                 # a's tail alert flushes
    ]
    for rows in batches:
        spark.createDataFrame(
            [(rid, k, t(s)) for rid, k, s in rows],
            "id long, key string, ts timestamp",
        ).coalesce(1).write.mode("append").parquet(src)

    q = streaming_downtime_incidents(
        spark,
        src,
        str(tmp_path / "dtout"),
        str(tmp_path / "dtckpt"),
        key_col="key",
        ts_col="ts",
        id_col="id",
        threshold_seconds=60,
        watermark="1 second",
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"

    out = spark.read.parquet(str(tmp_path / "dtout")).collect()
    base_us = int((base - _dt.datetime(1970, 1, 1)).total_seconds() * 1e6)

    closed = {
        (r["key"], (r["gap_start_us"] - base_us) // 1_000_000,
         (r["gap_end_us"] - base_us) // 1_000_000, r["gap_us"])
        for r in out
        if r["closed"]
    }
    batch = {
        (
            r["key"],
            int((r["gap_start_ts"] - base).total_seconds()),
            int((r["gap_end_ts"] - base).total_seconds()),
            r["gap_us"],
        )
        for r in hf.gap_incidents(
            spark.read.parquet(src), "ts", "key", "id", 60
        ).collect()
    }
    assert closed == batch
    assert ("a", 40, 130, 90_000_000) in closed

    opens = sorted(
        (r["key"], (r["gap_start_us"] - base_us) // 1_000_000)
        for r in out
        if not r["closed"]
    )
    # exactly one alert per proven silence: a after its 160 s reading,
    # b after its only reading — never re-raised on later batches
    assert opens == [("a", 160), ("b", 10)]
    for r in out:
        if not r["closed"]:
            assert r["gap_end_us"] is None and r["gap_us"] is None


def test_streaming_gapfill_locf_matches_batch_on_closed_buckets(spark, tmp_path):
    """Stateful gap-fill: a bucket emits exactly once, when the
    watermark closes it — observed buckets with their max, interior
    gaps with the LOCF carry (rows for buckets NO data ever arrived
    for), the tail bounded by max_fill_buckets. On every bucket both
    engines emit (the per-key range they share), the
    (value, is_gapfilled) pair must equal batch gapfill_locf."""
    import datetime as _dt

    from purpleair_data_logger_spark.operators import aggregations as agg
    from purpleair_data_logger_spark.streaming.gapfill import (
        streaming_gapfill_locf,
    )

    base = _dt.datetime(2024, 9, 1, 0, 0, 0)

    def t(s):
        return base + _dt.timedelta(seconds=s)

    # 60 s buckets. Key a: data in buckets 0, 1 (two rows -> max), 4
    # (gap 2-3 filled with 5.0 across a micro-batch boundary); key b:
    # buckets 1, 2.
    src = str(tmp_path / "gfsrc")
    batches = [
        [("a", 10, 3.0), ("a", 70, 5.0), ("a", 80, 4.0), ("b", 90, 7.0)],
        # a@100 lands in bucket 1 from a LATER micro-batch while that
        # bucket is still open (within watermark) -> must merge to max
        [("b", 150, 8.0), ("a", 100, 9.0)],
        [("a", 250, 6.0)],               # closes a's 2-3 gap
        [("zz", 3600, 0.0)],             # watermark advance
        [("zz", 7200, 0.0)],             # timeout catch-up batch
        [("zz", 10800, 0.0)],            # second catch-up (wm lags a batch)
    ]
    for rows in batches:
        spark.createDataFrame(
            [(k, t(s), v) for k, s, v in rows],
            "key string, ts timestamp, value double",
        ).coalesce(1).write.mode("append").parquet(src)

    q = streaming_gapfill_locf(
        spark,
        src,
        str(tmp_path / "gfout"),
        str(tmp_path / "gfckpt"),
        key_col="key",
        ts_col="ts",
        value_col="value",
        bucket_seconds=60,
        max_fill_buckets=2,
        watermark="1 second",
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"

    out = spark.read.parquet(str(tmp_path / "gfout")).filter("key != 'zz'")
    got = {
        (r["key"], int((r["bucket_ts"] - base).total_seconds()) // 60): (
            r["value_filled"],
            r["is_gapfilled"],
        )
        for r in out.collect()
    }
    assert len(got) == out.count()  # each bucket emitted exactly once
    # a: 0 obs, 1 obs(max 5.0), 2-3 gap@5.0, 4 obs, then ≤2 tail gaps
    # b: 1 obs, 2 obs, then ≤2 tail gaps @8.0
    assert got[("a", 0)] == (3.0, False)
    assert got[("a", 1)] == (9.0, False)      # max of 5.0, 4.0, late 9.0
    assert got[("a", 2)] == (9.0, True)
    assert got[("a", 3)] == (9.0, True)
    assert got[("a", 4)] == (6.0, False)
    assert got[("a", 5)] == (6.0, True) and got[("a", 6)] == (6.0, True)
    assert ("a", 7) not in got                # tail bounded at 2
    assert got[("b", 1)] == (7.0, False)
    assert got[("b", 2)] == (8.0, False)
    assert got[("b", 3)] == (8.0, True) and got[("b", 4)] == (8.0, True)
    assert ("b", 5) not in got

    # batch parity on the shared range: batch spine is global, so
    # compare each key's rows from its first observed bucket up to the
    # last bucket streaming emitted for it
    batch_rows = agg.gapfill_locf(
        spark.read.parquet(src).filter("key != 'zz'"),
        "ts",
        60,
        ["key"],
        "value",
    ).collect()
    last_emitted = {}
    first_emitted = {}
    for k, b in got:
        last_emitted[k] = max(last_emitted.get(k, -1), b)
        first_emitted[k] = min(first_emitted.get(k, 1 << 60), b)
    for r in batch_rows:
        k = r["key"]
        b = int((r["bucket_ts"] - base).total_seconds()) // 60
        if first_emitted[k] <= b <= last_emitted[k]:
            assert got[(k, b)] == (r["value_filled"], r["is_gapfilled"]), (k, b)


def test_streaming_gapfill_tail_drop_and_key_revival(spark, tmp_path):
    """The bounded-tail contract end-to-end: a key dark past
    max_fill_buckets stops producing flat-line rows and its state is
    DROPPED; when the key later revives, it restarts fresh from its
    new first bucket (no carry across the horizon, no rows for the
    dark middle)."""
    import datetime as _dt

    from purpleair_data_logger_spark.streaming.gapfill import (
        streaming_gapfill_locf,
    )

    base = _dt.datetime(2024, 9, 2, 0, 0, 0)

    def t(s):
        return base + _dt.timedelta(seconds=s)

    src = str(tmp_path / "gfrsrc")
    batches = [
        [("a", 10, 2.0)],                 # bucket 0
        [("zz", 300, 0.0)],               # wm -> ~299
        [("zz", 400, 0.0)],               # timeout: emit b0 + 1 tail, drop
        [("a", 900, 7.0)],                # revival: bucket 15, fresh state
        [("zz", 3600, 0.0)],
        [("zz", 7200, 0.0)],              # timeout: emit b15 + 1 tail, drop
    ]
    for rows in batches:
        spark.createDataFrame(
            [(k, t(s), v) for k, s, v in rows],
            "key string, ts timestamp, value double",
        ).coalesce(1).write.mode("append").parquet(src)

    q = streaming_gapfill_locf(
        spark,
        src,
        str(tmp_path / "gfrout"),
        str(tmp_path / "gfrckpt"),
        key_col="key",
        ts_col="ts",
        value_col="value",
        bucket_seconds=60,
        max_fill_buckets=1,
        watermark="1 second",
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"

    got = sorted(
        (int((r["bucket_ts"] - base).total_seconds()) // 60,
         r["value_filled"], r["is_gapfilled"])
        for r in spark.read.parquet(str(tmp_path / "gfrout"))
        .filter("key = 'a'")
        .collect()
    )
    assert got == [
        (0, 2.0, False),
        (1, 2.0, True),     # the single allowed tail bucket
        (15, 7.0, False),   # revival: fresh, dark middle never emitted
        (16, 7.0, True),
    ]


def test_streaming_interpolate_matches_batch_between_closed_neighbors(
    spark, tmp_path
):
    """Stateful linear interpolation: interior gap buckets emit the
    batch operator's exact fill once their RIGHT observed neighbor is
    watermark-closed (endpoints arriving in different micro-batches),
    a late row merging into a still-open bucket shifts the fill, and
    leading/trailing edges emit nothing (batch's NULL rows)."""
    import datetime as _dt

    from purpleair_data_logger_spark.operators import aggregations as agg
    from purpleair_data_logger_spark.streaming.interpolate import (
        streaming_gapfill_interpolate,
    )

    base = _dt.datetime(2024, 9, 3, 0, 0, 0)

    def t(s):
        return base + _dt.timedelta(seconds=s)

    # 60 s buckets. a: obs 0 (2.0) and 3 (8.0 after late merge) ->
    # gaps 1,2 interpolate to 4.0, 6.0; b: obs 1 (1.0), 2 (2.5).
    src = str(tmp_path / "ipsrc")
    batches = [
        [("a", 10, 2.0), ("b", 70, 1.0)],
        [("a", 190, 5.0), ("b", 130, 2.5)],   # a@bucket3 provisional
        [("a", 200, 8.0)],                     # late merge: max -> 8.0
        [("zz", 3600, 0.0)],
        [("zz", 7200, 0.0)],
    ]
    for rows in batches:
        spark.createDataFrame(
            [(k, t(s), v) for k, s, v in rows],
            "key string, ts timestamp, value double",
        ).coalesce(1).write.mode("append").parquet(src)

    q = streaming_gapfill_interpolate(
        spark,
        src,
        str(tmp_path / "ipout"),
        str(tmp_path / "ipckpt"),
        key_col="key",
        ts_col="ts",
        value_col="value",
        bucket_seconds=60,
        max_gap_buckets=50,
        watermark="1 second",
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"

    got = {
        (r["key"], int((r["bucket_ts"] - base).total_seconds()) // 60): (
            r["value_filled"],
            r["is_gapfilled"],
        )
        for r in spark.read.parquet(str(tmp_path / "ipout"))
        .filter("key != 'zz'")
        .collect()
    }
    assert got == {
        ("a", 0): (2.0, False),
        ("a", 1): (4.0, True),    # 2 + (8-2)*1/3
        ("a", 2): (6.0, True),    # 2 + (8-2)*2/3
        ("a", 3): (8.0, False),
        ("b", 1): (1.0, False),
        ("b", 2): (2.5, False),
    }

    # batch parity: the non-NULL spine rows inside each key's observed
    # range are exactly the streaming emission
    want = {
        (r["key"], int((r["bucket_ts"] - base).total_seconds()) // 60): (
            r["value_filled"],
            r["is_gapfilled"],
        )
        for r in agg.gapfill_interpolate(
            spark.read.parquet(src).filter("key != 'zz'"),
            "ts",
            60,
            ["key"],
            "value",
        ).collect()
        if r["value_filled"] is not None
    }
    assert got == want


def test_streaming_state_transitions_match_batch_timeline(spark, tmp_path):
    """Stateful mirror of state_timeline: the previous state carries
    across micro-batches (a transition whose endpoints live in
    different files must still be detected, a state held across the
    boundary must NOT fake one), NULL states are skipped, and the
    emitted set equals the batch operator's exactly."""
    import datetime as _dt

    from purpleair_data_logger_spark.operators import hyperfunctions as hf
    from purpleair_data_logger_spark.streaming.state import (
        streaming_state_transitions,
    )

    base = _dt.datetime(2024, 8, 1, 0, 0, 0)

    def t(s):
        return base + _dt.timedelta(seconds=s)

    src = str(tmp_path / "stsrc")
    batches = [
        [(1, "a", 0, "up"), (2, "a", 60, "down"), (3, "b", 10, "ok")],
        [(4, "a", 120, "down"), (5, "b", 70, None)],   # held + NULL skip
        [(6, "a", 200, "up"), (7, "b", 130, "ok")],    # cross-batch: a flips
        [(8, "b", 190, "warn")],                        # b flips at last
    ]
    for rows in batches:
        spark.createDataFrame(
            [(rid, k, t(s), st) for rid, k, s, st in rows],
            "id long, key string, ts timestamp, st string",
        ).coalesce(1).write.mode("append").parquet(src)

    q = streaming_state_transitions(
        spark,
        src,
        str(tmp_path / "stout"),
        str(tmp_path / "stckpt"),
        key_col="key",
        ts_col="ts",
        id_col="id",
        state_col="st",
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"

    base_us = int((base - _dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    got = sorted(
        (r["key"], (r["transition_us"] - base_us) // 1_000_000,
         r["from_state"], r["to_state"])
        for r in spark.read.parquet(str(tmp_path / "stout")).collect()
    )
    assert got == [
        ("a", 60, "up", "down"),
        ("a", 200, "down", "up"),
        ("b", 190, "ok", "warn"),
    ]

    want = sorted(
        (
            r["key"],
            int((r["transition_ts"] - base).total_seconds()),
            r["from_state"],
            r["to_state"],
        )
        for r in hf.state_timeline(
            spark.read.parquet(src), "ts", "key", "st", "id"
        ).collect()
    )
    assert got == want


def test_streaming_trend_matches_batch_stats_agg(spark, tmp_path):
    """Incremental Gram-state regression: after the last micro-batch,
    each key's emitted slope/intercept must equal the batch trend_stats
    answer bit-for-bit (same exact integer sums, same fixed-order
    float tail), with per-batch rows showing the estimate converging
    as n grows."""
    import datetime as _dt

    from purpleair_data_logger_spark.operators import hyperfunctions as hf
    from purpleair_data_logger_spark.streaming.trend import streaming_trend

    base = _dt.datetime(2024, 7, 1, 0, 0, 0)
    # key "a": clean line 5 + 1.2/h with 6-min cadence (0.12/step —
    # exactly representable at centi precision, so quantization adds
    # no bias); key "b": noisy alternating values (nontrivial
    # residuals)
    rows = []
    for i in range(30):
        ts = base + _dt.timedelta(minutes=6 * i)
        rows.append((i, "a", ts, 5.0 + 0.12 * i))
        rows.append((100 + i, "b", ts, 10.0 + (i % 3) * 0.5 - 0.02 * i))
    src = str(tmp_path / "trsrc")
    for chunk in (rows[:20], rows[20:40], rows[40:]):
        spark.createDataFrame(
            chunk, "id long, key string, ts timestamp, value double"
        ).coalesce(1).write.mode("append").parquet(src)

    q = streaming_trend(
        spark,
        src,
        str(tmp_path / "trout"),
        str(tmp_path / "trckpt"),
        key_col="key",
        ts_col="ts",
        id_col="id",
        value_col="value",
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"

    out = spark.read.parquet(str(tmp_path / "trout"))
    # final row per key = the one with max n
    import pyspark.sql.functions as F

    final = {
        r["key"]: r
        for r in out.orderBy("n").collect()  # later rows overwrite
    }
    batch = {
        r["key"]: r
        for r in hf.trend_stats(
            spark.read.parquet(src), "ts", "key", "value"
        ).collect()
    }
    for k in ("a", "b"):
        assert final[k]["n"] == batch[k]["n"] == 30
        assert final[k]["slope_per_hour"] == batch[k]["slope_per_hour"], k
        assert final[k]["intercept"] == batch[k]["intercept"], k
        assert final[k]["t0"] == batch[k]["t0"], k
    # the clean line recovers its planted slope exactly
    assert abs(batch["a"]["slope_per_hour"] - 1.2) < 1e-12
    # convergence evidence: each key emitted one row per touching batch
    assert out.filter("key = 'a'").count() == 3


def test_scale_half_up_matches_spark_round_semantics():
    """numpy's np.round is half-EVEN; Spark's F.round is
    half-away-from-zero. The streaming mirrors must use the half-up
    helper or their scaled integers silently diverge from batch on
    exact-.5 values (caught by the trend parity test)."""
    import numpy as np

    from purpleair_data_logger_spark.streaming.counter import scale_half_up

    vals = np.array([0.125, 0.135, -0.125, 1.005, 2.0])
    got = scale_half_up(vals, 100)
    assert got.tolist() == [13, 14, -13, 100, 200]  # 1.005*100 = 100.49..
    # np.round would have produced 12 (half-even) for 0.125
    assert np.round(0.125 * 100) == 12
    # boundary doubles: the naive floor(x + 0.5) form rounds in the
    # +0.5 ADDITION (0.49999999999999994 + 0.5 == 1.0) and returns 1,
    # diverging from Spark round and DuckDB round which both see the
    # exact value < 0.5. The exact-frac helper must return 0.
    b = 0.49999999999999994
    assert np.floor(np.float64(b) + 0.5) == 1.0  # the naive-form trap
    assert scale_half_up(np.array([b, -b]), 1).tolist() == [0, 0]
    import duckdb

    assert duckdb.sql(f"SELECT CAST(round({b!r}) AS BIGINT)").fetchone()[
        0
    ] == 0


def test_streaming_sliding_approx_actives(spark, tmp_path):
    """The sliding-window mode runs in Structured Streaming too:
    overlapping 10-min windows sliding by 5 min over a file stream,
    with approx_count_distinct (the streaming-safe distinct — exact
    countDistinct is unsupported in streaming aggs). Closed windows
    must estimate each window's exact batch distinct within HLL error
    and carry exact event counts."""
    import datetime as _dt

    from pyspark.sql import functions as F

    base = _dt.datetime(2024, 8, 1, 0, 0, 0)
    rows = [
        (i, i % 7, base + _dt.timedelta(seconds=i * 13)) for i in range(400)
    ]
    src = str(tmp_path / "slsrc")
    spark.createDataFrame(
        rows, "id long, user_id long, ts timestamp"
    ).coalesce(2).write.parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src)
        .withWatermark("ts", "1 minute")
    )
    plan = (
        stream.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("_w"))
        .agg(
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(F.col("_w.start").alias("window_start"), "approx_users", "n_events")
    )
    q = (
        plan.writeStream.format("parquet")
        .option("path", str(tmp_path / "slout"))
        .option("checkpointLocation", str(tmp_path / "slckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"
    got = spark.read.parquet(str(tmp_path / "slout")).collect()
    assert got  # early windows closed under the watermark
    batch = {
        r["window_start"]: (r["exact_users"], r["n_events"])
        for r in spark.read.parquet(src)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("_w"))
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(F.col("_w.start").alias("window_start"), "exact_users", "n_events")
        .collect()
    }
    for r in got:
        exact_users, n_events = batch[r["window_start"]]
        assert r["n_events"] == n_events  # counts are exact
        assert abs(r["approx_users"] - exact_users) <= max(1, 0.15 * exact_users)


def test_streaming_cusum_alarms_match_batch(spark, tmp_path):
    """CUSUM alarms with cross-batch carried state: one file per
    micro-batch so the statistic must be CARRIED, calibration targets
    passed as the batch operator's truncated per-key means — the
    emitted alarm set must equal `hf.cusum_scan`'s exactly (same
    scaled-BIGINT arithmetic, same alarm boundary)."""
    import datetime as _dt

    from pyspark.sql import functions as F
    from purpleair_data_logger_spark.operators import hyperfunctions as hf
    from purpleair_data_logger_spark.streaming.cusum import (
        streaming_cusum_alarms,
    )

    base = _dt.datetime(2024, 5, 1, 0, 0, 0)
    rows = []
    # key "a": baseline 10.0, then a burst of 25.0 straddling the
    # second/third file; key "b" flat (never alarms)
    for i in range(20):
        rows.append((i, "a", i * 60, 10.0))
    for i in range(20, 28):
        rows.append((i, "a", i * 60, 25.0))
    for i in range(15):
        rows.append((100 + i, "b", i * 60, 7.5))
    batches = [rows[:15], rows[15:30], rows[30:]]
    src = str(tmp_path / "qsrc")
    for chunk in batches:
        spark.createDataFrame(
            [
                (rid, k, base + _dt.timedelta(seconds=s), v)
                for rid, k, s, v in chunk
            ],
            "id long, key string, ts timestamp, value double",
        ).coalesce(1).write.mode("append").parquet(src)

    all_rows = spark.read.parquet(src)
    slack, threshold = 1.0, 30.0
    batch_alarms = {
        (r["key"], r["id"]): r["cusum"]
        for r in hf.cusum_scan(
            all_rows, "ts", "key", "value", "id",
            slack=slack, threshold=threshold,
        ).collect()
    }
    assert batch_alarms and {k for k, _ in batch_alarms} == {"a"}

    # calibration = the batch operator's target: truncated mean of the
    # scaled values per key, descaled back to value units
    targets = (
        all_rows.groupBy("key")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("_sv"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            "key",
            (F.expr("_sv div _n").cast("double") / 100.0).alias("target"),
        )
    )
    q = streaming_cusum_alarms(
        spark,
        src,
        targets,
        str(tmp_path / "qout"),
        str(tmp_path / "qckpt"),
        key_col="key",
        ts_col="ts",
        id_col="id",
        value_col="value",
        target_col="target",
        slack=slack,
        threshold=threshold,
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"

    got = {
        (r["key"], r["id"]): r["cusum"]
        for r in spark.read.parquet(str(tmp_path / "qout")).collect()
    }
    assert got == batch_alarms


def test_streaming_cusum_twosided_matches_batch(spark, tmp_path):
    """Two-sided CUSUM (VERDICT r5 #4) with cross-batch carried state:
    an upward-bursting key, a downward-drooping key (the clogged-
    sensor class the one-sided detector misses), and a flat key; one
    file per micro-batch so BOTH statistics must be carried. The
    emitted (key, id) → (cusum_high, cusum_low, alarm_side) set must
    equal `hf.cusum_scan_twosided`'s exactly."""
    import datetime as _dt

    from pyspark.sql import functions as F
    from purpleair_data_logger_spark.operators import hyperfunctions as hf
    from purpleair_data_logger_spark.streaming.cusum import (
        streaming_cusum_twosided_alarms,
    )

    base = _dt.datetime(2024, 5, 1, 0, 0, 0)
    rows = []
    # key "a": baseline 10.0 then an upward burst straddling files
    for i in range(20):
        rows.append((i, "a", i * 60, 10.0))
    for i in range(20, 28):
        rows.append((i, "a", i * 60, 25.0))
    # key "c": baseline 10.0 then a downward droop straddling files
    for i in range(20):
        rows.append((200 + i, "c", i * 60, 10.0))
    for i in range(20, 28):
        rows.append((200 + i, "c", i * 60, 1.0))
    # key "b": flat, never alarms
    for i in range(15):
        rows.append((100 + i, "b", i * 60, 7.5))
    batches = [rows[:20], rows[20:45], rows[45:]]
    src = str(tmp_path / "q2src")
    for chunk in batches:
        spark.createDataFrame(
            [
                (rid, k, base + _dt.timedelta(seconds=s), v)
                for rid, k, s, v in chunk
            ],
            "id long, key string, ts timestamp, value double",
        ).coalesce(1).write.mode("append").parquet(src)

    all_rows = spark.read.parquet(src)
    slack, threshold = 1.0, 30.0
    batch_alarms = {
        (r["key"], r["id"]): (r["cusum_high"], r["cusum_low"], r["alarm_side"])
        for r in hf.cusum_scan_twosided(
            all_rows, "ts", "key", "value", "id",
            slack=slack, threshold=threshold,
        ).collect()
    }
    sides = {v[2] for v in batch_alarms.values()}
    keys = {k for k, _ in batch_alarms}
    assert "up" in sides and "down" in sides  # both detectors fire
    assert keys == {"a", "c"}

    targets = (
        all_rows.groupBy("key")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("_sv"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            "key",
            (F.expr("_sv div _n").cast("double") / 100.0).alias("target"),
        )
    )
    q = streaming_cusum_twosided_alarms(
        spark,
        src,
        targets,
        str(tmp_path / "q2out"),
        str(tmp_path / "q2ckpt"),
        key_col="key",
        ts_col="ts",
        id_col="id",
        value_col="value",
        target_col="target",
        slack=slack,
        threshold=threshold,
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"

    got = {
        (r["key"], r["id"]): (r["cusum_high"], r["cusum_low"], r["alarm_side"])
        for r in spark.read.parquet(str(tmp_path / "q2out")).collect()
    }
    assert got == batch_alarms


def test_streaming_frequent_items_mg_guarantees(spark, tmp_path):
    """Streaming Misra–Gries heavy hitters: across micro-batches the
    latest per-group snapshot must satisfy the MG invariants vs the
    exact counts — no false negatives at the support threshold,
    min_count ≤ true ≤ min_count + err_bound, and O(1/support) summary
    size — mirroring the batch grouped_frequent_items contract with
    bounded state."""
    import datetime as _dt

    from collections import Counter

    from purpleair_data_logger_spark.streaming.frequent import (
        streaming_frequent_items,
    )

    # two groups with zipf-ish token streams: "hot" tokens well above
    # the 10% support, a mid token near it, and a long tail below
    def tokens(seed: int):
        out = []
        for i in range(300):
            if i % 3 == 0:
                out.append("hot1")
            elif i % 4 == 1:
                out.append("hot2")
            elif i % 10 == 2:
                out.append("mid")
            else:
                out.append(f"tail{(i * 7 + seed) % 40}")
        return out

    base = _dt.datetime(2024, 5, 1)
    rows = []
    for g, seed in (("en", 0), ("de", 3)):
        for i, tok in enumerate(tokens(seed)):
            rows.append((g, tok, base + _dt.timedelta(seconds=i)))
    batches = [rows[0::3], rows[1::3], rows[2::3]]
    src = str(tmp_path / "mgsrc")
    for chunk in batches:
        spark.createDataFrame(
            chunk, "lang string, tok string, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)

    support_bp = 1000  # 10% → k = 9 counters per group
    q = streaming_frequent_items(
        spark,
        src,
        str(tmp_path / "mgout"),
        str(tmp_path / "mgckpt"),
        group_col="lang",
        value_col="tok",
        support_bp=support_bp,
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"

    out = spark.read.parquet(str(tmp_path / "mgout")).collect()
    exact = {
        g: Counter(tok for gg, tok, _ in rows if gg == g)
        for g in ("en", "de")
    }
    for g in ("en", "de"):
        latest_seen = max(r["rows_seen"] for r in out if r["lang"] == g)
        assert latest_seen == 300  # all three files counted
        snap = {
            r["item"]: (r["min_count"], r["err_bound"])
            for r in out
            if r["lang"] == g and r["rows_seen"] == latest_seen
        }
        assert len(snap) <= 9  # O(1/support) state, never cardinality
        threshold = support_bp * latest_seen / 10_000
        for tok, true_count in exact[g].items():
            if true_count >= threshold:
                assert tok in snap, f"false negative {g}/{tok}"
        for tok, (mc, err) in snap.items():
            true_count = exact[g][tok]
            assert mc <= true_count <= mc + err, (g, tok, mc, err, true_count)


def test_streaming_confirmed_heavy_hitters_parity(spark, tmp_path):
    """End-to-end MG → bounded verify (VERDICT r6 #8): at EVERY
    emission point, confirming the streamed candidate snapshot against
    the rows seen so far must equal the batch exact operator
    (`grouped_frequent_items`) on the same prefix — set equality on
    (group, value, n_occurrences, n_total), freq to float equality.
    MG's no-false-negative guarantee makes the candidate set a
    superset; the bounded count + identical integer threshold makes
    the confirmed set exact."""
    import datetime as _dt

    from purpleair_data_logger_spark.operators.aggregations import (
        grouped_frequent_items,
    )
    from purpleair_data_logger_spark.streaming.frequent import (
        confirm_heavy_hitters,
        streaming_frequent_items,
    )

    def tokens(seed: int):
        out = []
        for i in range(300):
            if i % 3 == 0:
                out.append("hot1")
            elif i % 4 == 1:
                out.append("hot2")
            elif i % 10 == 2:
                out.append("mid")
            else:
                out.append(f"tail{(i * 7 + seed) % 40}")
        return out

    base = _dt.datetime(2024, 5, 1)
    rows = []
    for g, seed in (("en", 0), ("de", 3)):
        for i, tok in enumerate(tokens(seed)):
            rows.append((g, tok, base + _dt.timedelta(seconds=i)))
    batches = [rows[0::3], rows[1::3], rows[2::3]]
    schema = "lang string, tok string, ts timestamp"
    src, out, ckpt = (
        str(tmp_path / d) for d in ("csrc", "cout", "cckpt")
    )
    support_bp = 1000
    seen: list = []
    for chunk in batches:
        # one file lands → restart the drained stream on the shared
        # checkpoint (state persists) → one new emission point
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        seen.extend(chunk)
        q = streaming_frequent_items(
            spark, src, out, ckpt,
            group_col="lang", value_col="tok", support_bp=support_bp,
        )
        assert q.awaitTermination(120), "stream did not finish in 120s"

        from pyspark.sql import functions as _F

        summaries = spark.read.parquet(out)
        prefix = spark.createDataFrame(seen, schema)
        # snapshot alignment: the newest emission covers exactly the
        # rows seen so far
        latest = {
            r["lang"]: r["m"]
            for r in summaries.groupBy("lang")
            .agg(_F.max("rows_seen").alias("m"))
            .collect()
        }
        per_group = {"en": 0, "de": 0}
        for g, _, _ in seen:
            per_group[g] += 1
        assert latest == per_group

        confirmed = confirm_heavy_hitters(
            summaries, prefix, "lang", "tok", support_bp=support_bp
        )
        exact = grouped_frequent_items(
            prefix, ["lang"], "tok", support_bp=support_bp
        )
        got = {
            (r["lang"], r["tok"], r["n_occurrences"], r["n_total"]): r["freq"]
            for r in confirmed.collect()
        }
        want = {
            (r["lang"], r["tok"], r["n_occurrences"], r["n_total"]): r["freq"]
            for r in exact.collect()
        }
        assert set(got) == set(want)
        assert got == want  # freq: same division on same integers
        assert want, "fixture must produce heavy hitters"


def test_streaming_mad_matches_sequential_kernel(spark, tmp_path):
    """Streaming MAD outliers (VERDICT r5 #8): the documented
    approximate-carry contract — streamed flags/estimates across
    micro-batch boundaries must equal a sequential replay of the
    tracker kernel on the full ordered series BIT-FOR-BIT, planted
    spikes over the stationary baseline must flag, and the median
    tracker must land within O(step) of the true median."""
    import datetime as _dt

    import numpy as np
    from purpleair_data_logger_spark.streaming.mad import (
        mad_track_pandas,
        streaming_mad_outliers,
    )

    base = _dt.datetime(2024, 5, 1, 0, 0, 0)
    cycle = [9.0, 10.0, 11.0, 10.0]
    rows = []
    for i in range(45):
        v = 50.0 if i in (20, 40) else cycle[i % 4]
        rows.append((i, "a", i * 60, v))
    batches = [rows[:15], rows[15:30], rows[30:]]
    src = str(tmp_path / "madsrc")
    for chunk in batches:
        spark.createDataFrame(
            [
                (rid, k, base + _dt.timedelta(seconds=s), v)
                for rid, k, s, v in chunk
            ],
            "id long, key string, ts timestamp, value double",
        ).coalesce(1).write.mode("append").parquet(src)

    steps = dict(median_step=0.5, mad_step=0.25, k=3.5, min_samples=8)
    q = streaming_mad_outliers(
        spark,
        src,
        str(tmp_path / "madout"),
        str(tmp_path / "madckpt"),
        key_col="key",
        ts_col="ts",
        id_col="id",
        value_col="value",
        max_files_per_trigger=1,
        **steps,
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"
    got = {
        r["id"]: (r["median_est"], r["mad_est"], r["robust_z"])
        for r in spark.read.parquet(str(tmp_path / "madout")).collect()
    }

    vals = np.array([v for _, _, _, v in rows])
    flags, meds, mads, (m, d, n) = mad_track_pandas(
        vals, steps["median_step"], steps["mad_step"], steps["k"],
        steps["min_samples"], None,
    )
    expected = {
        i: (meds[i], mads[i], (vals[i] - meds[i]) / mads[i])
        for i in np.flatnonzero(flags)
    }
    assert got == expected  # bit-exact across micro-batch boundaries
    assert {20, 40} <= set(got)  # both planted spikes flagged
    assert len(got) <= 4  # the stationary baseline stays quiet
    assert abs(m - 10.0) <= 2 * steps["median_step"]  # tracker converged
    assert n == 45


def test_streaming_mad_drops_out_of_order_rows(spark, tmp_path):
    """A later file predating the held timestamp is dropped (the
    trackers are order-dependent and append mode cannot retract):
    output equals the stream without the stale file."""
    import datetime as _dt

    from purpleair_data_logger_spark.streaming.mad import (
        streaming_mad_outliers,
    )

    base = _dt.datetime(2024, 5, 1, 0, 0, 0)
    cycle = [9.0, 10.0, 11.0, 10.0]
    head = [(i, i * 60, cycle[i % 4]) for i in range(12)]
    tail = [(12, 720, 50.0), (13, 780, 10.0)]
    clean = [head, tail]
    # rid 99 predates the held timestamp (660) → dropped; its huge
    # value must not move the trackers
    stale = [head, [(99, 300, 1000.0)], tail]
    outs = []
    for tag, chunks in (("clean", clean), ("stale", stale)):
        src = str(tmp_path / f"mad{tag}src")
        for chunk in chunks:
            spark.createDataFrame(
                [
                    (rid, "a", base + _dt.timedelta(seconds=s), v)
                    for rid, s, v in chunk
                ],
                "id long, key string, ts timestamp, value double",
            ).coalesce(1).write.mode("append").parquet(src)
        q = streaming_mad_outliers(
            spark,
            src,
            str(tmp_path / f"mad{tag}out"),
            str(tmp_path / f"mad{tag}ckpt"),
            key_col="key",
            ts_col="ts",
            id_col="id",
            value_col="value",
            median_step=0.5,
            mad_step=0.25,
            min_samples=8,
            max_files_per_trigger=1,
        )
        assert q.awaitTermination(120), "stream did not finish in 120s"
        outs.append(
            sorted(
                (r["id"], r["median_est"], r["mad_est"])
                for r in spark.read.parquet(
                    str(tmp_path / f"mad{tag}out")
                ).collect()
            )
        )
    assert outs[0] == outs[1]
    assert [i for i, _, _ in outs[0]] == [12]  # the true spike, once


def test_streaming_cusum_drops_out_of_order_rows(spark, tmp_path):
    """A later file whose readings predate the held timestamp must be
    dropped (append mode cannot retract), leaving the statistic and
    subsequent alarms identical to the stream without the stale file."""
    import datetime as _dt

    from purpleair_data_logger_spark.streaming.cusum import (
        streaming_cusum_alarms,
    )

    base = _dt.datetime(2024, 5, 1, 0, 0, 0)

    def write(path, chunks):
        for chunk in chunks:
            spark.createDataFrame(
                [
                    (rid, "a", base + _dt.timedelta(seconds=s), v)
                    for rid, s, v in chunk
                ],
                "id long, key string, ts timestamp, value double",
            ).coalesce(1).write.mode("append").parquet(path)

    clean = [[(0, 0, 10.0), (1, 60, 30.0)], [(2, 120, 30.0), (3, 180, 30.0)]]
    stale = [
        clean[0],
        # rid 9 predates the held timestamp (60) → dropped
        [(9, 30, 1000.0)],
        clean[1],
    ]
    outs = []
    for tag, chunks in (("clean", clean), ("stale", stale)):
        src = str(tmp_path / f"{tag}src")
        write(src, chunks)
        targets = spark.createDataFrame([("a", 10.0)], "key string, target double")
        q = streaming_cusum_alarms(
            spark,
            src,
            targets,
            str(tmp_path / f"{tag}out"),
            str(tmp_path / f"{tag}ck"),
            key_col="key",
            ts_col="ts",
            id_col="id",
            value_col="value",
            target_col="target",
            slack=1.0,
            threshold=25.0,
            max_files_per_trigger=1,
        )
        assert q.awaitTermination(120), "stream did not finish in 120s"
        outs.append(
            sorted(
                (r["id"], r["cusum"])
                for r in spark.read.parquet(str(tmp_path / f"{tag}out")).collect()
            )
        )
    assert outs[0] == outs[1] and outs[0]


def test_cusum_batch_kernel_matches_sequential_loop():
    import numpy as np

    from purpleair_data_logger_spark.streaming.cusum import cusum_batch_kernel

    rng = np.random.RandomState(11)
    for seed_s in (0, 7, 123):
        ds = rng.randint(-50, 40, 300).astype(np.int64)
        s_vec, final = cusum_batch_kernel(ds, seed_s)
        s, ref = seed_s, []
        for d in ds:
            s = max(0, s + int(d))
            ref.append(s)
        assert s_vec.tolist() == ref and final == ref[-1]


def test_streaming_downtime_stale_batch_preserves_alerted(spark, tmp_path):
    """Round-5 advisory: a micro-batch whose every reading is
    disorder-dropped (stale, at-or-before the held timestamp) is NOT a
    sign of life — it must not reset the ``alerted`` flag nor re-raise
    a second open alert for the same ongoing silence. Sequence: a goes
    dark, the watermark proves it (one open alert), a STALE reading
    for a arrives (dropped by the disorder contract), the watermark
    advances again — exactly one open alert total."""
    import datetime as _dt

    from purpleair_data_logger_spark.streaming.downtime import (
        streaming_downtime_incidents,
    )

    base = _dt.datetime(2024, 7, 1, 0, 0, 0)

    def t(s):
        return base + _dt.timedelta(seconds=s)

    src = str(tmp_path / "dtsrc2")
    batches = [
        [(1, "a", 0), (2, "zz", 3600)],   # watermark -> 3599s
        [(3, "zz", 3700)],                # a times out here: ONE alert
        [(4, "a", 0)],                    # stale duplicate: dropped
        [(5, "zz", 7200)],                # watermark advance: no re-alert
    ]
    for rows in batches:
        spark.createDataFrame(
            [(rid, k, t(s)) for rid, k, s in rows],
            "id long, key string, ts timestamp",
        ).coalesce(1).write.mode("append").parquet(src)

    q = streaming_downtime_incidents(
        spark,
        src,
        str(tmp_path / "dtout2"),
        str(tmp_path / "dtckpt2"),
        key_col="key",
        ts_col="ts",
        id_col="id",
        threshold_seconds=60,
        watermark="1 second",
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"

    out = spark.read.parquet(str(tmp_path / "dtout2")).collect()
    base_us = int((base - _dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    a_opens = [
        (r["gap_start_us"] - base_us) // 1_000_000
        for r in out
        if r["key"] == "a" and not r["closed"]
    ]
    assert a_opens == [0], f"one silence must alert exactly once: {a_opens}"
    # and no phantom closed incident was fabricated from the stale row
    assert not [r for r in out if r["key"] == "a" and r["closed"]]


def test_confirm_heavy_hitters_preserves_value_type(spark):
    """ADVICE r7: MG state carries candidates as strings, but the
    confirm stage must emit the SOURCE column's type — for a bigint
    value column the output schema and values must match
    `grouped_frequent_items` exactly, not a stringified copy."""
    from purpleair_data_logger_spark.operators.aggregations import (
        grouped_frequent_items,
    )
    from purpleair_data_logger_spark.streaming.frequent import (
        confirm_heavy_hitters,
    )

    # integer-valued source: value 7 is hot (40%), 8 is mid (20%),
    # the rest is tail
    rows = []
    for g in ("a", "b"):
        for i in range(100):
            v = 7 if i % 5 < 2 else (8 if i % 5 == 2 else 100 + i)
            rows.append((g, v))
    src = spark.createDataFrame(rows, "grp string, val long")
    # MG summary snapshot: candidates as strings (superset incl. a
    # spurious one the verify must reject)
    summaries = spark.createDataFrame(
        [("a", "7", 100), ("a", "8", 100), ("a", "104", 100),
         ("b", "7", 100), ("b", "8", 100)],
        "grp string, item string, rows_seen long",
    )
    confirmed = confirm_heavy_hitters(
        summaries, src, "grp", "val", support_bp=1500
    )
    exact = grouped_frequent_items(src, ["grp"], "val", support_bp=1500)
    assert dict(confirmed.dtypes) == dict(exact.dtypes)
    assert dict(confirmed.dtypes)["val"] == "bigint"
    got = {tuple(r) for r in confirmed.collect()}
    want = {tuple(r) for r in exact.collect()}
    assert got == want and want


def test_streaming_funnel_exact_under_disorder(spark, tmp_path):
    """Streaming funnel mirror: EXACT parity with the batch
    conversion_funnel at EVERY emission point under deliberately
    out-of-order cross-batch arrival (no disorder contract needed —
    the anchored minima are monotone and the candidate buffers hold
    every still-possible winner)."""
    import datetime as _dt

    from purpleair_data_logger_spark.streaming.funnel import streaming_funnel

    base = _dt.datetime(2024, 5, 1)
    rows = []
    # 6 users with distinct funnel shapes: full conversion, click but
    # no purchase, view only, purchase before click (non-qualifying),
    # click before view (qualifies only once a straggler view lands),
    # and interleaved repeats
    fixtures = {
        1: [("view", 10), ("click", 20), ("purchase", 30)],
        2: [("view", 10), ("click", 25), ("click", 15), ("purchase", 5)],
        3: [("view", 40)],
        4: [("purchase", 8), ("view", 9), ("click", 50), ("purchase", 60)],
        5: [("click", 5), ("view", 3), ("purchase", 7), ("view", 2)],
        6: [("view", 11), ("view", 4), ("click", 6), ("click", 12),
            ("purchase", 13), ("purchase", 5)],
    }
    for uid, evs in fixtures.items():
        for et, sec in evs:
            rows.append((uid, et, base + _dt.timedelta(seconds=sec)))
    # deterministic NON-time-ordered split: stride-3 interleave sends
    # later events before earlier ones within every user
    batches = [rows[0::3], rows[1::3], rows[2::3]]
    schema = "user_id long, event_type string, ts timestamp"
    src, out, ckpt = (str(tmp_path / d) for d in ("fsrc", "fout", "fckpt"))

    from pyspark.sql import functions as _F

    seen: list = []
    for chunk in batches:
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        seen.extend(chunk)
        q = streaming_funnel(spark, src, out, ckpt)
        assert q.awaitTermination(120), "stream did not finish in 120s"

        snaps = spark.read.parquet(out)
        latest = snaps.join(
            snaps.groupBy("user_id").agg(
                _F.max("events_seen").alias("events_seen")
            ),
            on=["user_id", "events_seen"],
        ).dropDuplicates(["user_id"])
        got = {
            r["user_id"]: (
                r["t_view_us"], r["t_click_us"], r["t_purchase_us"],
                r["converted"],
            )
            for r in latest.collect()
        }
        # batch operator on the exact prefix, timestamps to epoch-µs.
        # conversion_funnel's body only needs (user_id, event_type, ts).
        prefix = spark.createDataFrame(seen, schema)
        v = (prefix.filter(_F.col("event_type") == "view")
             .groupBy("user_id").agg(_F.min("ts").alias("t_view")))
        c = (prefix.join(v, "user_id")
             .filter((_F.col("event_type") == "click")
                     & (_F.col("ts") > _F.col("t_view")))
             .groupBy("user_id").agg(_F.min("ts").alias("t_click")))
        p = (prefix.join(c, "user_id")
             .filter((_F.col("event_type") == "purchase")
                     & (_F.col("ts") > _F.col("t_click")))
             .groupBy("user_id").agg(_F.min("ts").alias("t_purchase")))
        want = {
            r["user_id"]: (
                r["tv"], r["tc"], r["tp"], r["tp"] is not None,
            )
            for r in v.join(c, "user_id", "left").join(p, "user_id", "left")
            .select(
                "user_id",
                _F.unix_micros("t_view").alias("tv"),
                _F.unix_micros("t_click").alias("tc"),
                _F.unix_micros("t_purchase").alias("tp"),
            )
            .collect()
        }
        assert got == want, (got, want)
    # final state sanity on the fixtures: user 4's early purchase
    # (before its click) never converts it via the buffer path alone
    assert got[1][3] is True and got[4][3] is True and got[3][3] is False
    # user 5: the straggler view (t=2) requalified the click at t=5
    # and the purchase at t=7
    assert got[5] == (
        int(_dt.datetime(2024, 5, 1, 0, 0, 2).timestamp() * 1_000_000),
        int(_dt.datetime(2024, 5, 1, 0, 0, 5).timestamp() * 1_000_000),
        int(_dt.datetime(2024, 5, 1, 0, 0, 7).timestamp() * 1_000_000),
        True,
    )


def test_streaming_encode_matches_batch_bit_exact(spark, tmp_path):
    """Embedding generation on a document STREAM (r10): the stateless
    Arrow stage evaluates per micro-batch and must equal the batch
    path BIT-exactly (every output float is one division of exact
    integers), including multi-chunk docs and the NULL-text contract,
    with one micro-batch per file so rows really cross batches."""
    from purpleair_data_logger_spark.operators import encoder as enc
    from purpleair_data_logger_spark.streaming.encode import encode_stream

    rows = [
        (1, "short doc"),
        (2, "x" * 300),          # 3 chunks of 128
        (3, None),               # NULL contract
        (4, ""),                 # one empty chunk
        (5, "another document " * 20),
    ]
    src = str(tmp_path / "enc_src")
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # two files -> two micro-batches under maxFilesPerTrigger=1
    df.filter("doc_id <= 2").coalesce(1).write.mode("overwrite").parquet(src)
    df.filter("doc_id > 2").coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        encode_stream(stream, "doc_id", "text", encoder=enc.fake_encoder)
        .writeStream.format("memory")
        .queryName("enc_stream_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"
    got = {
        r["doc_id"]: (r["n_chunks"], tuple(r["embedding"]) if r["embedding"] is not None else None)
        for r in spark.sql("SELECT * FROM enc_stream_t").collect()
    }
    want = {
        r["doc_id"]: (r["n_chunks"], tuple(r["embedding"]) if r["embedding"] is not None else None)
        for r in enc.encode_documents(
            spark.read.parquet(src), "doc_id", "text", encoder=enc.fake_encoder
        ).collect()
    }
    assert got == want  # bit-exact, not approximate
    assert len(got) == 5 and got[3] == (None, None)


def test_streaming_incremental_encode_matches_batch(spark, tmp_path):
    """Stream-static LEFT ANTI + encode (r10): only documents absent
    from the static already-encoded id set are encoded, per micro-batch,
    and the output is bit-equal to the batch incremental path on the
    same inputs."""
    from purpleair_data_logger_spark.operators import encoder as enc
    from purpleair_data_logger_spark.streaming.encode import (
        encode_stream_incremental,
    )

    rows = [(i, f"doc number {i} " * (i % 3 + 1)) for i in range(10)]
    src = str(tmp_path / "inc_src")
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.filter("doc_id < 5").coalesce(1).write.mode("overwrite").parquet(src)
    df.filter("doc_id >= 5").coalesce(1).write.mode("append").parquet(src)
    done = spark.createDataFrame(
        [(i,) for i in range(0, 10, 2)], "doc_id long"
    )  # evens already encoded -> odds are the backlog

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        encode_stream_incremental(
            stream, done, "doc_id", "text", encoder=enc.fake_encoder
        )
        .writeStream.format("memory")
        .queryName("inc_enc_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"
    got = {
        r["doc_id"]: (r["n_chunks"], tuple(r["embedding"]))
        for r in spark.sql("SELECT * FROM inc_enc_t").collect()
    }
    batch = spark.read.parquet(src).join(done, "doc_id", "left_anti")
    want = {
        r["doc_id"]: (r["n_chunks"], tuple(r["embedding"]))
        for r in enc.encode_documents(
            batch, "doc_id", "text", encoder=enc.fake_encoder
        ).collect()
    }
    assert got == want
    assert sorted(got) == [1, 3, 5, 7, 9]  # exactly the backlog


def test_streaming_incremental_prefix_matches_batch(spark, tmp_path, sf_dir):
    """The EXACT streaming ingest-dedup (prefix-filter form) finds
    exactly the pairs the batch `prefix_filter_between` finds on the
    same (new, base) split, with the new side delivered across two
    micro-batches — and routes only genuinely-new docs to the fresh
    sink. Bit-exact: the frozen base-df order makes the stream's
    per-batch mining identical to the batch join restricted to that
    batch's docs."""
    from pyspark.sql import functions as F

    from purpleair_data_logger_spark import io as pio
    from purpleair_data_logger_spark.operators import dedup as dd
    from purpleair_data_logger_spark.streaming.neardup import (
        run_incremental_prefix_stream,
    )

    docs = pio.load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text")

    src = str(tmp_path / "pf_src")
    new.filter((F.col("doc_id") / 10) % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    new.filter((F.col("doc_id") / 10) % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    out = str(tmp_path / "pf_out")
    q = run_incremental_prefix_stream(
        spark, src, base, out, str(tmp_path / "pf_ckpt"),
        threshold_pct=80, shingle_n=3,
    )
    q.awaitTermination(180)
    assert not q.isActive

    got = {
        (r["new_doc_id"], r["base_doc_id"], r["jaccard"])
        for r in spark.read.parquet(f"{out}/pairs").collect()
    }
    want = {
        (r["new_doc_id"], r["base_doc_id"], r["jaccard"])
        for r in dd.prefix_filter_between(
            new, base, "doc_id", "text", threshold_pct=80, shingle_n=3
        ).collect()
    }
    assert got == want and want  # exact parity; fixture plants dups

    fresh = {r["doc_id"] for r in spark.read.parquet(f"{out}/fresh").collect()}
    matched = {p[0] for p in want}
    all_new = {r["doc_id"] for r in new.collect()}
    assert fresh == all_new - matched


def _neardup_family_corpus(spark):
    """Base corpus + three near-identical docs (A=101, A'=102, A''=103):
    30 words, last word differs -> 3-shingle Jaccard 25/31 = 0.8065,
    just past the 0.8 threshold; base docs share no tokens with them."""
    from pyspark.sql import functions as F  # noqa: F401

    stem = " ".join(f"tok{i}" for i in range(29))
    fam = {101: stem + " endA", 102: stem + " endB", 103: stem + " endC"}
    base = spark.createDataFrame(
        [
            (1, " ".join(f"basea{i}" for i in range(30))),
            (2, " ".join(f"baseb{i}" for i in range(30))),
        ],
        "doc_id long, text string",
    )
    return base, fam


def _write_one_doc_batches(spark, src, fam):
    """One parquet file per doc, 1s apart, so maxFilesPerTrigger=1
    processes them as ordered micro-batches (file source orders by
    modification time)."""
    import time as _time

    for doc_id in sorted(fam):
        spark.createDataFrame(
            [(doc_id, fam[doc_id])], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.0)


def test_streaming_prefix_recent_window_pairs_within_stream(spark, tmp_path):
    """VERDICT r10 #5: A (batch 0) and A' (batch 1), neither in the
    base corpus, are PAIRED via the rolling recent-window index —
    while A'' (batch 2) arrives after A aged out of the W=1 window
    (and A' never entered it, being a dup), so it lands fresh: the
    bounded-state trade, documented in SCALE.md."""
    from purpleair_data_logger_spark.streaming.neardup import (
        run_incremental_prefix_stream,
    )

    base, fam = _neardup_family_corpus(spark)
    src = str(tmp_path / "rw_src")
    _write_one_doc_batches(spark, src, fam)

    out = str(tmp_path / "rw_out")
    q = run_incremental_prefix_stream(
        spark, src, base, out, str(tmp_path / "rw_ckpt"),
        threshold_pct=80, shingle_n=3,
        recent_window_batches=1, max_files_per_trigger=1,
    )
    q.awaitTermination(240)
    pairs = {
        (r["new_doc_id"], r["base_doc_id"])
        for r in spark.read.parquet(f"{out}/pairs").collect()
    }
    assert pairs == {(102, 101)}
    fresh = {r["doc_id"] for r in spark.read.parquet(f"{out}/fresh").collect()}
    assert fresh == {101, 103}


def test_streaming_prefix_fold_every_keeps_index_current(spark, tmp_path):
    """VERDICT r10 #4: with the periodic-fold hook (fold_every=1) the
    base PrefixIndex absorbs each batch's FRESH docs, so both A' and
    A'' pair against A — the index never goes stale — and only A is
    forwarded as fresh."""
    from purpleair_data_logger_spark.streaming.neardup import (
        run_incremental_prefix_stream,
    )

    base, fam = _neardup_family_corpus(spark)
    src = str(tmp_path / "fe_src")
    _write_one_doc_batches(spark, src, fam)

    out = str(tmp_path / "fe_out")
    q = run_incremental_prefix_stream(
        spark, src, base, out, str(tmp_path / "fe_ckpt"),
        threshold_pct=80, shingle_n=3,
        fold_every=1, max_files_per_trigger=1,
    )
    q.awaitTermination(240)
    pairs = {
        (r["new_doc_id"], r["base_doc_id"])
        for r in spark.read.parquet(f"{out}/pairs").collect()
    }
    assert pairs == {(102, 101), (103, 101)}
    fresh = {r["doc_id"] for r in spark.read.parquet(f"{out}/fresh").collect()}
    assert fresh == {101}


def test_streaming_lsh_fold_every_keeps_index_current(
    spark, tmp_path, monkeypatch
):
    """The LSH form's fold hook (`dedup.lsh_index_append`): same
    cross-batch family as the prefix test; banding at J=0.8065 with 16
    bands of 4 collides with p~0.9997 and the hash is deterministic,
    so the expected pairs are stable. The fold state carried across the
    three triggers goes through `materialize_once`, so with
    ``SPARK_GRAFT_CHECKPOINT_DIR`` set the same stream stores it as
    reliable checkpoint files and emits the same output."""
    import os

    from purpleair_data_logger_spark import materialize
    from purpleair_data_logger_spark.streaming.neardup import (
        run_incremental_neardup_stream,
    )

    base, fam = _neardup_family_corpus(spark)
    src = str(tmp_path / "lf_src")
    _write_one_doc_batches(spark, src, fam)

    def run(tag):
        out = str(tmp_path / f"{tag}_out")
        q = run_incremental_neardup_stream(
            spark, src, base, out, str(tmp_path / f"{tag}_ckpt"),
            threshold=0.8, fold_every=1, max_files_per_trigger=1,
        )
        q.awaitTermination(240)
        pairs = {
            (r["new_doc_id"], r["base_doc_id"])
            for r in spark.read.parquet(f"{out}/pairs").collect()
        }
        fresh = {
            r["doc_id"] for r in spark.read.parquet(f"{out}/fresh").collect()
        }
        return q, pairs, fresh

    _q, pairs, fresh = run("lf")
    assert pairs == {(102, 101), (103, 101)}
    assert fresh == {101}

    state_dir = str(tmp_path / "lf_state")
    monkeypatch.setenv(materialize.CHECKPOINT_DIR_ENV, state_dir)
    # the query handle keeps the final fold state (and so its files,
    # which the cleaner deletes once unreferenced) alive
    q, pairs_r, fresh_r = run("lr")
    assert (pairs_r, fresh_r) == (pairs, fresh)
    assert any(files for _root, _dirs, files in os.walk(state_dir))


def test_streaming_prefix_drift_check_surfaces_rebuild_signal(spark, tmp_path):
    """VERDICT r11 #6: the fold path now runs the drift report. A
    boilerplate phrase that appears only AFTER the index freeze ranks
    'rarest' (frozen df 0) forever, so it enters every new doc's
    prefix and its posting list grows without bound — candidate
    fan-out, not recall, is the casualty, which is why nothing inside
    the mining loop would ever notice. With drift_check=True the
    stream writes `dedup.prefix_index_drift_report` over the
    just-folded index to {out}/drift after every fold: the rebuild
    signal surfaces at the first fold where the boilerplate postings
    reach 2, and the report is batch_id-tagged so the operator can see
    WHEN the order went stale."""
    from purpleair_data_logger_spark.streaming.neardup import (
        run_incremental_prefix_stream,
    )

    base = spark.createDataFrame(
        [
            (1, " ".join(f"basea{i}" for i in range(30))),
            (2, " ".join(f"baseb{i}" for i in range(30))),
        ],
        "doc_id long, text string",
    )
    # three mutually-distinct docs sharing only a post-freeze
    # boilerplate tail ("accept all cookies now please" -> 3 shared
    # 3-shingles, Jaccard ~0.06 << 0.8 so every doc stays fresh and
    # is folded); unique tokens sort AFTER the boilerplate so the
    # frozen-df-0 tie-break keeps the boilerplate shingles in prefixes
    fam = {
        200 + k: " ".join(f"zz{k}w{i}" for i in range(25))
        + " accept all cookies now please"
        for k in range(3)
    }
    src = str(tmp_path / "dr_src")
    _write_one_doc_batches(spark, src, fam)
    out = str(tmp_path / "dr_out")
    q = run_incremental_prefix_stream(
        spark, src, base, out, str(tmp_path / "dr_ckpt"),
        threshold_pct=80, shingle_n=3,
        fold_every=1, drift_check=True, max_files_per_trigger=1,
    )
    q.awaitTermination(240)
    fresh = {r["doc_id"] for r in spark.read.parquet(f"{out}/fresh").collect()}
    assert fresh == {200, 201, 202}
    drift = spark.read.parquet(f"{out}/drift").collect()
    by_batch: dict[int, list] = {}
    for r in drift:
        by_batch.setdefault(r["batch_id"], []).append(r)
    assert sorted(by_batch) == [0, 1, 2]  # one report per fold
    # first fold: every posting is 1, nothing flags yet
    assert not any(r["needs_rebuild"] for r in by_batch[0])
    # by the last fold the boilerplate shingles' postings reached >= 2
    # at frozen df 0 — the rebuild signal, naming the stale elements
    flagged = [r for r in by_batch[2] if r["needs_rebuild"]]
    assert flagged, "post-freeze boilerplate must flag needs_rebuild"
    assert all(r["frozen_dfc"] == 0 for r in flagged)
    assert {r["tok"] for r in flagged} <= {
        "accept all cookies",
        "all cookies now",
        "cookies now please",
    }
    assert max(r["prefix_postings"] for r in flagged) >= 2


def test_streaming_lsh_skew_check_surfaces_growing_bucket(spark, tmp_path):
    """The LSH form's staleness loop (symmetric to the prefix stream's
    drift_check): boilerplate-wrapped documents — same long template,
    small distinct payloads, Jaccard below the dedup threshold so each
    stays FRESH and is folded — accumulate in shared band buckets
    across folds. With skew_check=True every fold writes
    `dedup.lsh_index_skew_report` over the just-folded index to
    {out}/skew, so the growing max_bucket_size / candidate_pairs
    surface batch-by-batch instead of silently charging every later
    ingest."""
    from purpleair_data_logger_spark.streaming.neardup import (
        run_incremental_neardup_stream,
    )

    base = spark.createDataFrame(
        [
            (1, " ".join(f"basea{i}" for i in range(30))),
            (2, " ".join(f"baseb{i}" for i in range(30))),
        ],
        "doc_id long, text string",
    )
    template = " ".join(f"tmpl{i}" for i in range(40))
    fam = {
        300 + k: template + " " + " ".join(f"pay{k}x{i}" for i in range(8))
        for k in range(3)
    }
    src = str(tmp_path / "sk_src")
    _write_one_doc_batches(spark, src, fam)
    out = str(tmp_path / "sk_out")
    q = run_incremental_neardup_stream(
        spark, src, base, out, str(tmp_path / "sk_ckpt"),
        threshold=0.95, num_hashes=16, bands=4, shingle_n=3,
        fold_every=1, skew_check=True, max_files_per_trigger=1,
    )
    q.awaitTermination(240)
    # every family member stayed fresh (template J ~= 0.77 < 0.95)
    fresh = {r["doc_id"] for r in spark.read.parquet(f"{out}/fresh").collect()}
    assert fresh == {300, 301, 302}
    skew = spark.read.parquet(f"{out}/skew").collect()
    by_batch: dict[int, list] = {}
    for r in skew:
        by_batch.setdefault(r["batch_id"], []).append(r)
    assert sorted(by_batch) == [0, 1, 2]  # one report per fold
    def worst(bid):
        return max(r["max_bucket_size"] for r in by_batch[bid])
    # the boilerplate family accumulates: by the last fold some band
    # bucket holds multiple template docs and the report shows growth
    assert worst(2) >= 2
    assert worst(2) >= worst(0)
    assert any(
        r["candidate_pairs"] >= 1 for r in by_batch[2]
    )


def test_neardup_maintenance_args_validation():
    """fold_every and recent_window_batches are mutually exclusive
    (both would emit duplicate pairs) and must be positive; the check
    fires before any Spark work."""
    from purpleair_data_logger_spark.streaming.neardup import (
        run_incremental_neardup_stream,
        run_incremental_prefix_stream,
    )

    with pytest.raises(ValueError, match="mutually exclusive"):
        run_incremental_prefix_stream(
            None, "s", None, "o", "c",
            fold_every=1, recent_window_batches=1,
        )
    with pytest.raises(ValueError, match="positive"):
        run_incremental_neardup_stream(
            None, "s", None, "o", "c", fold_every=0
        )
    with pytest.raises(ValueError, match="positive"):
        run_incremental_prefix_stream(
            None, "s", None, "o", "c", recent_window_batches=-3
        )
    with pytest.raises(ValueError, match="drift_check requires fold_every"):
        run_incremental_prefix_stream(
            None, "s", None, "o", "c", drift_check=True
        )
    with pytest.raises(ValueError, match="skew_check requires fold_every"):
        run_incremental_neardup_stream(
            None, "s", None, "o", "c", skew_check=True
        )


def test_streaming_lsh_recent_window_pairs_within_stream(spark, tmp_path):
    """The LSH form's bounded within-stream option: same A/A'/A''
    family as the prefix test — A' pairs against A through the rolling
    band-row window, A'' arrives after eviction and lands fresh."""
    from purpleair_data_logger_spark.streaming.neardup import (
        run_incremental_neardup_stream,
    )

    base, fam = _neardup_family_corpus(spark)
    src = str(tmp_path / "lr_src")
    _write_one_doc_batches(spark, src, fam)

    out = str(tmp_path / "lr_out")
    q = run_incremental_neardup_stream(
        spark, src, base, out, str(tmp_path / "lr_ckpt"),
        threshold=0.8, recent_window_batches=1, max_files_per_trigger=1,
    )
    q.awaitTermination(240)
    pairs = {
        (r["new_doc_id"], r["base_doc_id"])
        for r in spark.read.parquet(f"{out}/pairs").collect()
    }
    assert pairs == {(102, 101)}
    fresh = {r["doc_id"] for r in spark.read.parquet(f"{out}/fresh").collect()}
    assert fresh == {101, 103}


def _md5_60(v) -> int:
    import hashlib

    return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)


def test_streaming_pack_one_batch_equals_batch(spark, tmp_path):
    """Delivered as ONE micro-batch, the streaming packing mirror is
    bit-exact to batch `pack_sequences` (same (hash, id) order, same
    exact-integer offsets)."""
    from purpleair_data_logger_spark.operators import packing as pk
    from purpleair_data_logger_spark.streaming.pack import streaming_pack

    rows = [(i, 5 + (i * 7) % 23) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    src = str(tmp_path / "pk_src")
    df.coalesce(1).write.parquet(src)
    out = str(tmp_path / "pk_out")
    q = streaming_pack(
        spark, src, out, str(tmp_path / "pk_ckpt"),
        id_col="doc_id", token_count_col="n_tok", budget=64, n_shards=8,
    )
    assert q.awaitTermination(120)
    got = {
        (r["doc_id"], r["shard"], r["start_offset"], r["seq_in_shard"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["doc_id"], r["shard"], r["start_offset"], r["seq_in_shard"])
        for r in pk.pack_sequences(
            df, "doc_id", "n_tok", budget=64, n_shards=8
        ).collect()
    }
    assert got == want and len(got) == 100


def test_streaming_sink_compaction_tick(spark, tmp_path):
    """VERDICT r11 #5 + code-review r12: the maintenance tick folds
    CLOSED sink files (committed to the _spark_metadata log, never the
    newest entry's) into a compacted lake via a staged atomic rename,
    deletes the folded buffer files, and the read surface (lake ∪
    unfolded tail) stays row-for-row identical through every fold.
    State is per FILE PATH with a manifest inside each fold dir, so
    the tick survives Spark compacting/cleaning its own sink log, a
    crash between rename and watermark write heals forward INCLUDING
    the source deletion, junk fold-named dirs are skipped, and
    in-flight files (on disk, absent from the log) are never folded
    and never read — the sink log's own visibility rule."""
    import json as _json
    import os
    import shutil as _sh

    from purpleair_data_logger_spark.streaming import compaction as C
    from purpleair_data_logger_spark.streaming.pack import streaming_pack

    src = str(tmp_path / "cmp_src")
    sink = str(tmp_path / "cmp_sink")
    lake = str(tmp_path / "cmp_lake")
    ckpt = str(tmp_path / "cmp_ckpt")
    for wave in range(3):
        rows = [(wave * 100 + i, 3 + i % 5) for i in range(1, 21)]
        spark.createDataFrame(rows, "doc_id long, n_tok long").coalesce(
            1
        ).write.mode("append").parquet(src)
    q = streaming_pack(
        spark, src, sink, ckpt,
        id_col="doc_id", token_count_col="n_tok", budget=16, n_shards=4,
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(180)

    def rows_of(df):
        return {tuple(r) for r in df.collect()}

    truth = rows_of(spark.read.parquet(sink))
    log = C._sink_log(sink)
    assert sorted(log) == [0, 1, 2]
    per_batch = {b: C._read_log_entries(f) for b, (_, f) in log.items()}
    committed = C._sink_committed_files(sink)
    assert set(committed) == {p for v in per_batch.values() for p in v}

    # tick 1: batches 0-1's files fold (newest entry stays hot), the
    # reader is unchanged, folded buffer files are gone, the hot
    # batch's files remain, one committed fold dir in the lake with
    # its manifest inside
    n01 = len(per_batch[0]) + len(per_batch[1])
    assert C.fold_closed_batches(spark, sink, lake, keep_last_batches=1) == n01
    assert rows_of(C.read_stream_output(spark, sink, lake)) == truth
    assert not any(
        os.path.exists(p) for b in (0, 1) for p in per_batch[b]
    )
    assert all(os.path.exists(p) for p in per_batch[2])
    state = _json.load(open(os.path.join(lake, "_folded.json")))
    assert set(state["files"]) == set(per_batch[0]) | set(per_batch[1])
    fold_dir = os.path.join(lake, state["folds"][0]["dir"])
    manifest = _json.load(open(os.path.join(fold_dir, "_FOLDED_SOURCES.json")))
    assert set(manifest) == set(state["files"])

    # idempotent idle tick: nothing new is closed
    assert C.fold_closed_batches(spark, sink, lake) == 0

    # in-flight protection: a part file on disk but NOT in the sink log
    # is invisible to both the fold and the reader (the log's own rule)
    inflight_rows = [(9999, 1, 0, 0)]
    inflight_dir = str(tmp_path / "cmp_inflight")
    spark.createDataFrame(
        inflight_rows, "doc_id long, shard int, start_offset long, seq_in_shard long"
    ).coalesce(1).write.parquet(inflight_dir)
    part = next(
        f for f in os.listdir(inflight_dir) if f.endswith(".parquet")
    )
    planted = os.path.join(sink, "part-99999-inflight.snappy.parquet")
    _sh.copy(os.path.join(inflight_dir, part), planted)
    assert C.fold_closed_batches(spark, sink, lake) == 0
    assert rows_of(C.read_stream_output(spark, sink, lake)) == truth
    assert os.path.exists(planted)  # untouched
    os.remove(planted)

    # SINK-LOG COMPACTION survival (code-review r12 #1): Spark replaces
    # history with one .compact entry re-listing EVERY path under one
    # batch id and deletes superseded plain entries — path-based state
    # must neither re-fold deleted files nor lose the unfolded tail
    meta = os.path.join(sink, "_spark_metadata")
    all_entries = []
    for b in sorted(per_batch):
        with open(os.path.join(meta, str(b))) as fh:
            all_entries.extend(
                ln for ln in fh.read().strip().split("\n") if ln != "v1"
            )
    with open(os.path.join(meta, "2.compact"), "w") as fh:
        fh.write("v1\n" + "\n".join(all_entries) + "\n")
    for b in (0, 1, 2):
        os.remove(os.path.join(meta, str(b)))
    assert set(C._sink_committed_files(sink)) == set(committed)
    assert C.fold_closed_batches(spark, sink, lake) == 0  # all hot/folded
    assert rows_of(C.read_stream_output(spark, sink, lake)) == truth

    # the stream keeps running: more source waves, same checkpoint —
    # new batches land, the next tick folds everything outside the hot
    # tail (including batch 2, no longer newest), reader stays exact
    for wave in range(3, 5):
        rows = [(wave * 100 + i, 3 + i % 5) for i in range(1, 21)]
        spark.createDataFrame(rows, "doc_id long, n_tok long").coalesce(
            1
        ).write.mode("append").parquet(src)
    q = streaming_pack(
        spark, src, sink, ckpt,
        id_col="doc_id", token_count_col="n_tok", budget=16, n_shards=4,
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(180)
    log2 = C._sink_log(sink)
    newest = max(log2)
    hot = set(C._read_log_entries(log2[newest][1]))
    committed2 = C._sink_committed_files(sink)
    # truth = the old batches' rows (already folded into the lake, so
    # gone from disk) plus the new waves' committed files
    new_files = [p for p in committed2 if p not in set(committed)]
    truth = truth | rows_of(spark.read.parquet(*new_files))
    expect = [
        p for p in committed2
        if p not in set(_json.load(open(os.path.join(lake, "_folded.json")))["files"])
        and p not in hot and os.path.exists(p)
    ]
    assert C.fold_closed_batches(spark, sink, lake) == len(expect) > 0
    assert rows_of(C.read_stream_output(spark, sink, lake)) == truth

    # crash heal (code-review r12 #2): a fold dir committed but
    # unrecorded (watermark write lost) is re-recorded FROM ITS OWN
    # MANIFEST and its leaked source files are deleted; junk fold dirs
    # without a manifest are skipped, staging dirs are swept
    state_path = os.path.join(lake, "_folded.json")
    state = _json.load(open(state_path))
    lost = state["folds"][-1]
    lost_sources = _json.load(
        open(os.path.join(lake, lost["dir"], "_FOLDED_SOURCES.json"))
    )
    state["folds"] = state["folds"][:-1]
    state["files"] = sorted(set(state["files"]) - set(lost_sources))
    with open(state_path, "w") as fh:
        _json.dump(state, fh)
    leaked = str(tmp_path / "leaked_source.parquet")
    # recreate one "leaked" source file the crashed tick failed to delete
    spark.createDataFrame(
        [(1, 1, 0, 0)],
        "doc_id long, shard int, start_offset long, seq_in_shard long",
    ).coalesce(1).write.mode("overwrite").parquet(leaked)
    leaked_part = next(
        os.path.join(leaked, f)
        for f in os.listdir(leaked)
        if f.endswith(".parquet")
    )
    _sh.copy(leaked_part, lost_sources[0])
    os.makedirs(os.path.join(lake, "_staging_fold_zzz"), exist_ok=True)
    os.makedirs(os.path.join(lake, "fold_junk_no_manifest"), exist_ok=True)
    C.heal_lake(lake)
    assert not os.path.isdir(os.path.join(lake, "_staging_fold_zzz"))
    assert os.path.isdir(os.path.join(lake, "fold_junk_no_manifest"))  # skipped
    healed = _json.load(open(state_path))
    assert lost["dir"] in {f["dir"] for f in healed["folds"]}
    assert set(lost_sources) <= set(healed["files"])
    assert not os.path.exists(lost_sources[0])  # leak finished
    assert rows_of(C.read_stream_output(spark, sink, lake)) == truth


def test_streaming_pack_cumulative_overflow_raises_loud():
    """ADVICE r11: cum_tokens accumulates an unbounded int into int64
    GroupState; past 2^63 the failure used to be an opaque Arrow
    serialization error inside state.update (the same failure mode
    streaming/acf.py fixed). The descriptive ValueError must fire
    BEFORE state is touched, and state must keep its pre-batch value."""
    import pandas as pd
    import pytest

    from purpleair_data_logger_spark.streaming.pack import (
        pack_stateful_func,
    )

    class _FakeState:
        exists = False
        _v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self.exists = True
            self._v = v

    fn = pack_stateful_func(16)
    state = _FakeState()

    def batch(doc_ids, toks):
        return pd.DataFrame(
            {
                "shard": [0] * len(doc_ids),
                "doc_id": doc_ids,
                "_h": doc_ids,
                "_n_tok": toks,
            }
        )

    # a huge-but-legal batch brings cum near the ceiling ...
    list(fn((0,), [batch([1], [2**63 - 10])], state))
    assert state.get == (2**63 - 10,)
    # ... and the next one would cross it: loud raise, state untouched
    with pytest.raises(ValueError, match="overflow int64"):
        list(fn((0,), [batch([2], [100])], state))
    assert state.get == (2**63 - 10,)


def test_streaming_pack_offsets_continue_across_batches(spark, tmp_path):
    """Across micro-batches, each shard's offsets continue from its
    O(1) running token total — verified against an independent
    sequential reference (arrival order across batches, (hash, id)
    order within each)."""
    import time as _time

    from purpleair_data_logger_spark.streaming.pack import streaming_pack

    b1 = [(i, 3 + i % 5) for i in range(1, 41)]
    b2 = [(i, 2 + i % 7) for i in range(41, 81)]
    src = str(tmp_path / "pk2_src")
    for batch in (b1, b2):
        spark.createDataFrame(batch, "doc_id long, n_tok long").coalesce(
            1
        ).write.mode("append").parquet(src)
        _time.sleep(1.0)
    out = str(tmp_path / "pk2_out")
    q = streaming_pack(
        spark, src, out, str(tmp_path / "pk2_ckpt"),
        id_col="doc_id", token_count_col="n_tok", budget=16, n_shards=4,
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(180)
    got = {
        r["doc_id"]: (r["shard"], r["start_offset"], r["seq_in_shard"])
        for r in spark.read.parquet(out).collect()
    }
    cum: dict[int, int] = {}
    want = {}
    for batch in (b1, b2):
        for did, tok in sorted(batch, key=lambda r: (_md5_60(r[0]), r[0])):
            s = _md5_60(did) % 4
            start = cum.get(s, 0)
            want[did] = (s, start, start // 16)
            cum[s] = start + tok
    assert got == want


def _mk_synthetic_sink(spark, tmp_path, n_batches, rows_per_batch=5):
    """A FileStreamSink-shaped directory built by hand: one parquet
    part file per batch plus a v1 ``_spark_metadata`` log listing it —
    the exact format `compaction._read_log_entries` parses. Lets the
    fold-tick edge cases run without standing up a streaming query."""
    import json as _json
    import os
    import shutil as _sh

    sink = str(tmp_path / "syn_sink")
    meta = os.path.join(sink, "_spark_metadata")
    os.makedirs(meta, exist_ok=True)
    per_batch = {}
    for b in range(n_batches):
        tmp = str(tmp_path / f"syn_tmp_{b}")
        spark.createDataFrame(
            [(b * 100 + i, i) for i in range(rows_per_batch)],
            "doc_id long, v long",
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(sink, f"part-{b:05d}.snappy.parquet")
        _sh.copy(os.path.join(tmp, part), dst)
        with open(os.path.join(meta, str(b)), "w") as fh:
            fh.write("v1\n" + _json.dumps({"path": dst, "action": "add"}) + "\n")
        per_batch[b] = dst
    return sink, per_batch


def test_compaction_fold_name_skips_squatters_and_torn_dirs(spark, tmp_path):
    """ADVICE r12: fold names came from len(state['folds']), so a torn
    fold dir heal_lake skips (or a foreign squatter) collided with the
    next tick's rename FOREVER. Names now come from the next free
    fold_NNNNNN index across disk and state."""
    import json as _json
    import os

    from purpleair_data_logger_spark.streaming import compaction as C

    sink, per_batch = _mk_synthetic_sink(spark, tmp_path, 3)
    lake = str(tmp_path / "syn_lake")
    # plant a torn fold dir (no readable manifest — heal skips it) and
    # a foreign squatter at a high index BEFORE the first tick
    os.makedirs(os.path.join(lake, "fold_000000"), exist_ok=True)
    os.makedirs(os.path.join(lake, "fold_000007"), exist_ok=True)
    n = C.fold_closed_batches(spark, sink, lake, keep_last_batches=1)
    assert n == 2  # batches 0-1 fold, batch 2 is the hot tail
    state = _json.load(open(os.path.join(lake, "_folded.json")))
    assert [f["dir"] for f in state["folds"]] == ["fold_000008"]
    # the torn dirs are untouched, the tick did not wedge
    assert os.path.isdir(os.path.join(lake, "fold_000000"))
    assert os.path.isdir(os.path.join(lake, "fold_000007"))
    got = {tuple(r) for r in C.read_stream_output(spark, sink, lake).collect()}
    want = {(b * 100 + i, i) for b in range(3) for i in range(5)}
    assert got == want


def test_compaction_pending_delete_sweep_closes_leak(spark, tmp_path):
    """ADVICE r12: a crash between `_save_folded` and the delete loop
    leaked the folded buffer files permanently (heal only finishes
    deletion for folds it newly re-records). The fold now commits its
    delete intent in state['pending_delete']; the next deleting tick
    sweeps it. The sweep is bounded to the crash window, and
    `vacuum_lake` handles pre-ledger leaks retroactively."""
    import json as _json
    import os

    from purpleair_data_logger_spark.streaming import compaction as C

    sink, per_batch = _mk_synthetic_sink(spark, tmp_path, 3)
    lake = str(tmp_path / "syn_lake2")
    assert C.fold_closed_batches(spark, sink, lake, keep_last_batches=1) == 2
    state_path = os.path.join(lake, "_folded.json")
    state = _json.load(open(state_path))
    assert state["pending_delete"] == []  # normal tick clears it

    # simulate the crash: folded sources back on disk, intent recorded
    leaked = [per_batch[0], per_batch[1]]
    src = per_batch[2]
    import shutil as _sh
    for p in leaked:
        _sh.copy(src, p)
    state["pending_delete"] = sorted(leaked)
    with open(state_path, "w") as fh:
        _json.dump(state, fh)
    # an idle deleting tick finishes the interrupted deletion
    assert C.fold_closed_batches(spark, sink, lake, keep_last_batches=3) == 0
    assert not any(os.path.exists(p) for p in leaked)
    assert _json.load(open(state_path))["pending_delete"] == []

    # pre-ledger leak (state['files'] entry on disk, no pending record)
    _sh.copy(src, leaked[0])
    assert C.vacuum_lake(lake) == 1
    assert not os.path.exists(leaked[0])


def test_read_stream_output_fresh_sink_schema_fallback(spark, tmp_path):
    """ADVICE r12: a fresh stream with a _spark_metadata log but zero
    committed data files used to surface Spark's bare 'unable to infer
    schema'. With schema= the read returns an empty frame of that
    shape; without it the error names the situation."""
    import os

    import pytest as _pytest

    from purpleair_data_logger_spark.streaming import compaction as C

    sink = str(tmp_path / "fresh_sink")
    os.makedirs(os.path.join(sink, "_spark_metadata"), exist_ok=True)
    lake = str(tmp_path / "fresh_lake")
    df = C.read_stream_output(spark, sink, lake, schema="doc_id long, v long")
    assert df.count() == 0 and df.columns == ["doc_id", "v"]
    with _pytest.raises(RuntimeError, match="no committed data files"):
        C.read_stream_output(spark, sink, lake)


class _SimulatedObjectStoreFS:
    """Object-store semantics over local disk: atomic single-file
    replace models conditional PUT (the one primitive the manifest
    commit mode needs); directory rename/replace, hard links, and
    O_CREAT|O_EXCL are ABSENT and raise if attempted; fsync is a no-op
    (durability is the store's PUT contract, not an fd flush). Built
    by delegation so any attempted POSIX-only primitive fails the test
    loudly instead of silently succeeding on the local disk."""

    def __init__(self):
        from purpleair_data_logger_spark import fsio as _fsio

        self._posix = _fsio.PosixFS()
        self._fsio = _fsio

    def capabilities(self):
        return frozenset({self._fsio.ATOMIC_FILE_PUT})

    def __getattr__(self, name):
        return getattr(self._posix, name)

    def replace(self, src, dst):
        import os as _os

        if _os.path.isdir(src) or _os.path.isdir(dst):
            raise NotImplementedError("object store: no atomic dir rename")
        self._posix.replace(src, dst)

    def rename(self, src, dst):
        raise NotImplementedError("object store: no rename")

    def link(self, src, dst):
        raise NotImplementedError("object store: no hard links")

    def create_exclusive(self, path, content):
        raise NotImplementedError("object store: no O_EXCL")

    def fsync_file(self, path):
        pass

    def fsync_dir(self, path):
        pass


def test_compaction_manifest_mode_object_store_lifecycle(spark, tmp_path):
    """VERDICT r12 #3 (object-store variant, implemented): with
    ``commit_mode="manifest"`` the whole fold lifecycle — tick, idle
    tick, read, vacuum — runs on a binding with ONLY atomic
    single-file put: no dir rename, no O_EXCL, no fsync. The fold is
    written at its final name, the state-file swap is the commit, the
    reader stays row-identical, sources are deleted, and the mode is
    pinned per lake (a rename-mode caller is refused by name)."""
    import json as _json
    import os

    from purpleair_data_logger_spark.streaming import compaction as C

    ofs = _SimulatedObjectStoreFS()
    sink, per_batch = _mk_synthetic_sink(spark, tmp_path, 3)
    lake = str(tmp_path / "obj_lake")

    n = C.fold_closed_batches(
        spark, sink, lake, keep_last_batches=1, fs=ofs, commit_mode="manifest"
    )
    assert n == 2  # batches 0-1 fold, batch 2 stays hot
    state = _json.load(open(os.path.join(lake, "_folded.json")))
    assert state["commit_mode"] == "manifest"
    assert [f["dir"] for f in state["folds"]] == ["fold_000000"]
    # written at the FINAL name — no staging dir ever existed
    assert not any(n.startswith(C._STAGING_PREFIX) for n in os.listdir(lake))
    assert not os.path.exists(per_batch[0]) and not os.path.exists(per_batch[1])
    got = {
        tuple(r)
        for r in C.read_stream_output(spark, sink, lake, fs=ofs).collect()
    }
    assert got == {(b * 100 + i, i) for b in range(3) for i in range(5)}

    # idle tick with commit_mode=None resolves the RECORDED mode and
    # still runs on the put-only binding (no rename capability check)
    assert C.fold_closed_batches(spark, sink, lake, fs=ofs) == 0
    # the per-lake mode pin refuses a mixed-mode caller by name
    with pytest.raises(ValueError, match="one mode per lake"):
        C.fold_closed_batches(spark, sink, lake, fs=ofs, commit_mode="rename")
    # vacuum resolves the recorded mode too
    assert C.vacuum_lake(lake, fs=ofs) == 0


def test_compaction_manifest_mode_crash_rolls_back_uncommitted(spark, tmp_path):
    """Manifest-mode crash semantics: a fold dir on disk but absent
    from the state file is an UNCOMMITTED write (the state swap IS the
    commit) — readers simply never see it (reads trust the state file
    alone and never heal, so a reader cannot race the ticker's
    in-progress fold), the OWNER's next tick deletes it and refolds
    its sources under a fresh committed name. Foreign fold_* dirs
    outside the fold_NNNNNN protocol shape are left alone in both
    modes."""
    import json as _json
    import os
    import shutil as _sh

    from purpleair_data_logger_spark.streaming import compaction as C

    ofs = _SimulatedObjectStoreFS()
    sink, per_batch = _mk_synthetic_sink(spark, tmp_path, 4)
    lake = str(tmp_path / "obj_lake2")
    assert (
        C.fold_closed_batches(
            spark, sink, lake, keep_last_batches=2, fs=ofs,
            commit_mode="manifest",
        )
        == 2
    )
    truth = {(b * 100 + i, i) for b in range(4) for i in range(5)}
    assert {
        tuple(r)
        for r in C.read_stream_output(spark, sink, lake, fs=ofs).collect()
    } == truth

    # simulate a crash mid-tick: batch 2's fold was WRITTEN at its
    # final name (manifest inside and all) but the state swap never
    # happened — and its source file was of course never deleted
    torn = os.path.join(lake, "fold_000042")
    committed_fold = os.path.join(lake, "fold_000000")
    _sh.copytree(committed_fold, torn)
    with open(os.path.join(torn, C._FOLD_MANIFEST), "w") as fh:
        _json.dump([per_batch[2]], fh)
    foreign = os.path.join(lake, "fold_junk_not_ours")
    os.makedirs(foreign, exist_ok=True)

    # reads are read-only: the torn dir is INVISIBLE (state file rules)
    # but stays on disk — its rows never appear, nothing double-counts
    got = {
        tuple(r)
        for r in C.read_stream_output(spark, sink, lake, fs=ofs).collect()
    }
    assert got == truth
    assert os.path.isdir(torn)  # reader did not GC — owner's job
    assert os.path.exists(per_batch[2])  # sources intact for refold

    # the OWNER's next tick heals (torn dir rolled back, foreign dir
    # survives) and refolds batch 2 under a fresh committed name
    assert (
        C.fold_closed_batches(spark, sink, lake, keep_last_batches=1, fs=ofs)
        == 1
    )
    assert not os.path.isdir(torn)
    assert os.path.isdir(foreign)
    state = _json.load(open(os.path.join(lake, "_folded.json")))
    assert per_batch[2] in state["files"]
    assert not os.path.exists(per_batch[2])
    assert {
        tuple(r)
        for r in C.read_stream_output(spark, sink, lake, fs=ofs).collect()
    } == truth


def test_stream_compaction_policy_runs_on_maintenance_tick(spark, tmp_path):
    """The streaming-sink compaction tick registers in the F8 policy
    catalog and runs under the same `run_policies` maintenance entry
    point as retention/compression — no second scheduler slot.
    Add-if-absent, persisted across store instances, label shows in
    the catalog read, the tick folds closed batches and is idempotent
    when nothing new closes."""
    import os

    from purpleair_data_logger_spark.streaming import compaction as C

    sink, per_batch = _mk_synthetic_sink(spark, tmp_path, 3)
    lake = str(tmp_path / "pol_lake")
    store = _store(spark, tmp_path)
    assert (
        store.add_stream_compaction_policy(
            "pack_sink", sink_path=sink, lake_path=lake, keep_last_batches=1
        )
        is True
    )
    assert (
        store.add_stream_compaction_policy(
            "pack_sink", sink_path=sink, lake_path=lake
        )
        is False  # add-if-absent on (kind, label)
    )
    with pytest.raises(ValueError, match="commit_mode"):
        store.add_stream_compaction_policy(
            "other", sink_path=sink, lake_path=lake, commit_mode="bogus"
        )
    rows = store.policy_catalog("policy_stream_compaction").collect()
    assert [(r["proc_name"], r["table_name"]) for r in rows] == [
        ("policy_stream_compaction", "pack_sink")
    ]

    # a fresh store instance sees the persisted policy and runs it
    store2 = SensorTableStore(spark, store.base_path)
    results = store2.run_policies()
    assert results["policy_stream_compaction:pack_sink"] == 2  # batches 0-1
    assert not os.path.exists(per_batch[0])
    got = {tuple(r) for r in C.read_stream_output(spark, sink, lake).collect()}
    assert got == {(b * 100 + i, i) for b in range(3) for i in range(5)}
    # idle tick: nothing new closed
    assert store2.run_policies()["policy_stream_compaction:pack_sink"] == 0


def test_compaction_keep_sources_tick_preserves_crash_ledger(spark, tmp_path):
    """Code-review r13: a delete_folded=False tick that folds
    something used to persist pending_delete=[] — wiping a crashed
    prior tick's delete intent while its files still sat on disk,
    reintroducing the permanent leak the ledger closes. The ledger
    must survive keep-sources ticks and be swept by the next deleting
    tick."""
    import json as _json
    import os
    import shutil as _sh

    from purpleair_data_logger_spark.streaming import compaction as C

    sink, per_batch = _mk_synthetic_sink(spark, tmp_path, 4)
    lake = str(tmp_path / "ledger_lake")
    assert C.fold_closed_batches(spark, sink, lake, keep_last_batches=2) == 2

    # simulate the crash: folded sources back on disk, intent recorded
    state_path = os.path.join(lake, "_folded.json")
    state = _json.load(open(state_path))
    crashed = [per_batch[0], per_batch[1]]
    for p in crashed:
        _sh.copy(per_batch[3], p)
    state["pending_delete"] = sorted(crashed)
    with open(state_path, "w") as fh:
        _json.dump(state, fh)

    # a KEEP-SOURCES tick folds batch 2 — and must not touch the ledger
    assert (
        C.fold_closed_batches(
            spark, sink, lake, keep_last_batches=1, delete_folded=False
        )
        == 1
    )
    after = _json.load(open(state_path))
    assert after["pending_delete"] == sorted(crashed)  # intent preserved
    assert all(os.path.exists(p) for p in crashed)
    assert os.path.exists(per_batch[2])  # keep-sources kept its own too

    # the next DELETING tick finishes the crashed deletion; the
    # keep-sources fold's files are not in the ledger and survive
    assert C.fold_closed_batches(spark, sink, lake, keep_last_batches=4) == 0
    assert not any(os.path.exists(p) for p in crashed)
    assert os.path.exists(per_batch[2])
    assert _json.load(open(state_path))["pending_delete"] == []


def test_compaction_first_tick_pins_mode_before_crash(spark, tmp_path):
    """Code-review r13: the commit mode is persisted BEFORE the first
    fold is attempted, so a first fold that dies pre-commit cannot
    leave a mode-less lake that a later hint-less heal would recover
    under the WRONG mode (rename heal ADOPTS exactly what manifest
    heal must ROLL BACK — on a POSIX-capable binding both are
    possible, and adoption would deliberately delete source files the
    manifest protocol still owns)."""
    import json as _json
    import os

    from purpleair_data_logger_spark.streaming import compaction as C

    sink, per_batch = _mk_synthetic_sink(spark, tmp_path, 3)
    lake = str(tmp_path / "pin_lake")

    real_save = C._save_folded
    calls = {"n": 0}

    def crashing_save(lake_path, state, fs=C.fsio.POSIX):
        calls["n"] += 1
        if calls["n"] == 2:  # the fold-commit swap — die mid-tick
            raise RuntimeError("simulated crash at the commit point")
        real_save(lake_path, state, fs=fs)

    C._save_folded = crashing_save
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            C.fold_closed_batches(
                spark, sink, lake, keep_last_batches=1,
                commit_mode="manifest",
            )
    finally:
        C._save_folded = real_save

    # the pin landed before the crash; the fold dir is on disk but
    # UNCOMMITTED, and its sources were never deleted
    state = _json.load(open(os.path.join(lake, "_folded.json")))
    assert state["commit_mode"] == "manifest" and state["folds"] == []
    torn = [
        n for n in os.listdir(lake) if C._FOLD_NAME_RE.match(n)
    ]
    assert torn  # the crashed write is there
    assert all(os.path.exists(per_batch[b]) for b in (0, 1, 2))

    # a HINT-LESS heal resolves the recorded manifest mode and rolls
    # the torn dir back instead of adopting it under rename semantics
    C.heal_lake(lake)
    assert not any(
        C._FOLD_NAME_RE.match(n) for n in os.listdir(lake)
    )
    assert all(os.path.exists(per_batch[b]) for b in (0, 1, 2))

    # the retry tick folds the same sources under the pinned mode
    assert C.fold_closed_batches(spark, sink, lake, keep_last_batches=1) == 2
    got = {tuple(r) for r in C.read_stream_output(spark, sink, lake).collect()}
    assert got == {(b * 100 + i, i) for b in range(3) for i in range(5)}


def test_stream_compaction_policy_injects_fs(spark, tmp_path):
    """Code-review r13: a manifest-mode stream lake lives on an object
    store whose binding must reach the policy tick — run_policies
    passes ``stream_fs`` through to fold_closed_batches (the store's
    own nine tables stay rename-bound by design)."""
    import json as _json
    import os

    from purpleair_data_logger_spark.streaming import compaction as C

    sink, per_batch = _mk_synthetic_sink(spark, tmp_path, 3)
    lake = str(tmp_path / "pol_obj_lake")
    store = _store(spark, tmp_path)
    assert store.add_stream_compaction_policy(
        "obj_sink", sink_path=sink, lake_path=lake, commit_mode="manifest"
    )
    results = store.run_policies(stream_fs=_SimulatedObjectStoreFS())
    assert results["policy_stream_compaction:obj_sink"] == 2
    state = _json.load(open(os.path.join(lake, "_folded.json")))
    assert state["commit_mode"] == "manifest"
    assert not any(n.startswith(C._STAGING_PREFIX) for n in os.listdir(lake))


def test_compaction_crash_sweep_heals_at_every_mutation_point(spark, tmp_path):
    """Systematic crash injection over the WHOLE fold protocol, both
    commit modes: the tick is killed immediately before each mutating
    seam operation in turn (every makedirs/open_write/replace/remove/
    rmtree — the full commit-relevant surface), then the owner heals
    with the mode hint and retries. Invariants at every crash point:
    the reader returns exactly the pre-crash truth (no lost rows, no
    double rows), every source file recorded as folded is really
    deleted after the next deleting tick, and no staging debris
    survives. This is the `sinks/atomic` crash-suite discipline
    applied to `streaming/compaction` (code-review r13 follow-up)."""
    import json as _json
    import os
    import shutil as _sh

    from purpleair_data_logger_spark import fsio
    from purpleair_data_logger_spark.streaming import compaction as C

    class _Boom(RuntimeError):
        pass

    MUTATORS = {
        "open_write", "replace", "remove", "rmtree", "rename",
        "create_exclusive", "makedirs",
    }

    class CountingFS:
        """Delegates to POSIX; raises _Boom immediately BEFORE the
        ``crash_at``-th mutating op (0-based), counting otherwise."""

        def __init__(self, crash_at=None):
            self._inner = fsio.PosixFS()
            self.count = 0
            self.crash_at = crash_at

        def __getattr__(self, name):
            attr = getattr(self._inner, name)
            if callable(attr) and name in MUTATORS:
                def wrap(*a, **kw):
                    if self.crash_at is not None and self.count == self.crash_at:
                        raise _Boom(f"crash before {name} #{self.count}")
                    self.count += 1
                    return attr(*a, **kw)
                return wrap
            return attr

    truth = {(b * 100 + i, i) for b in range(3) for i in range(5)}
    pristine, per_batch = _mk_synthetic_sink(spark, tmp_path, 3)
    meta_src = os.path.join(pristine, "_spark_metadata")

    def clone(tag):
        """Fresh sink per crash point (ticks delete source files), log
        paths rewritten to the clone — no Spark write needed."""
        sink = str(tmp_path / tag / "sink")
        os.makedirs(os.path.join(sink, "_spark_metadata"))
        mapping = {}
        for src in per_batch.values():
            dst = os.path.join(sink, os.path.basename(src))
            _sh.copy(src, dst)
            mapping[src] = dst
        for name in os.listdir(meta_src):
            with open(os.path.join(meta_src, name)) as fh:
                txt = fh.read()
            for s_, d_ in mapping.items():
                txt = txt.replace(s_, d_)
            with open(os.path.join(sink, "_spark_metadata", name), "w") as fh:
                fh.write(txt)
        return sink

    for mode in ("rename", "manifest"):
        # discover this mode's mutation-op count from one clean tick
        sink = clone(f"{mode}_probe")
        lake = str(tmp_path / f"{mode}_probe" / "lake")
        counter = CountingFS()
        assert (
            C.fold_closed_batches(
                spark, sink, lake, keep_last_batches=1,
                fs=counter, commit_mode=mode,
            )
            == 2
        )
        total = counter.count
        assert total >= 5  # the sweep is real, not vacuous

        for k in range(total):
            tag = f"{mode}_k{k}"
            sink = clone(tag)
            lake = str(tmp_path / tag / "lake")
            with pytest.raises(_Boom):
                C.fold_closed_batches(
                    spark, sink, lake, keep_last_batches=1,
                    fs=CountingFS(crash_at=k), commit_mode=mode,
                )
            # owner recovery: heal with the mode hint (a pre-pin crash
            # leaves no recorded mode), then retry the tick
            C.heal_lake(lake, commit_mode=mode)
            C.fold_closed_batches(
                spark, sink, lake, keep_last_batches=1, commit_mode=mode
            )
            got = {
                tuple(r)
                for r in C.read_stream_output(spark, sink, lake).collect()
            }
            assert got == truth, f"{tag}: rows diverged after heal+retry"
            # one more deleting tick sweeps any pending ledger; then
            # every recorded-folded source must be gone and no staging
            # debris left
            C.fold_closed_batches(
                spark, sink, lake, keep_last_batches=1, commit_mode=mode
            )
            state = _json.load(open(os.path.join(lake, "_folded.json")))
            assert not any(os.path.exists(p) for p in state["files"]), tag
            assert not any(
                n.startswith(C._STAGING_PREFIX) for n in os.listdir(lake)
            ), tag


def test_streaming_phash_matches_batch_cross_side(spark, tmp_path, sf_dir):
    """The multimodal streaming ingest dedup finds exactly the pairs
    the batch `phash_neardup_between` finds on the same (new, base)
    media split, with the new side delivered across two micro-batches
    — and routes only genuinely-new media to the fresh sink. Banding
    is per-row content hashing, so the stream's per-batch mining is
    identical to the batch cross-side join restricted to that batch's
    rows (no frozen-order subtlety)."""
    from pyspark.sql import functions as F

    from purpleair_data_logger_spark import io as pio
    from purpleair_data_logger_spark.operators import multimodal as mm
    from purpleair_data_logger_spark.streaming.phash import (
        run_incremental_phash_stream,
    )

    docs = pio.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # plant cross-side near-dups: every 7th doc's leetspeak variant
    # goes to the NEW side, everything original stays in the base
    base = mm.attach_binary_payload(docs, "doc_id", "text")
    new_docs = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.translate("text", "e", "3").alias("text"),
    )
    new = mm.attach_binary_payload(new_docs, "doc_id", "text")

    src = str(tmp_path / "ph_src")
    new.filter(F.col("media_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    new.filter(F.col("media_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    out = str(tmp_path / "ph_out")
    q = run_incremental_phash_stream(
        spark, src, base, out, str(tmp_path / "ph_ckpt"),
        thumbnailer=mm.fake_thumbnailer, max_hamming=6,
    )
    q.awaitTermination(180)
    assert not q.isActive

    got = {
        (r["new_doc_id"], r["base_doc_id"], r["hamming"])
        for r in spark.read.parquet(f"{out}/pairs").collect()
    }
    want = {
        (r["new_media_id"], r["base_media_id"], r["hamming"])
        for r in mm.phash_neardup_between(
            new, base, thumbnailer=mm.fake_thumbnailer, max_hamming=6
        ).collect()
    }
    assert got == want and want  # exact parity; fixture plants dups

    fresh = {
        r["media_id"] for r in spark.read.parquet(f"{out}/fresh").collect()
    }
    matched = {p[0] for p in want}
    all_new = {r["media_id"] for r in new.collect()}
    assert fresh == all_new - matched


def test_streaming_phash_fold_every_keeps_index_current(spark, tmp_path):
    """The multimodal fold hook: media 101 arrives fresh (no base
    near-dup), its exact copies 102 and 103 arrive in LATER
    micro-batches — with fold_every=1 the index tracks the growing
    corpus, so 102 pairs against the folded 101; 102 is then NOT fresh
    and never folds, so 103 pairs against 101 only (the fresh-only
    fold rule, same contract as the text LSH stream)."""
    from purpleair_data_logger_spark.operators import multimodal as mm
    from purpleair_data_logger_spark.streaming.phash import (
        run_incremental_phash_stream,
    )

    t = "The quick brown fox jumps over the lazy dog near the river. " * 4
    base = spark.createDataFrame(
        [(1, "Completely unrelated base corpus payload text here. " * 5)],
        "doc_id long, text string",
    )
    base_media = mm.attach_binary_payload(base, "doc_id", "text")
    src = str(tmp_path / "phf_src")
    for mid in (101, 102, 103):
        mm.attach_binary_payload(
            spark.createDataFrame([(mid, t)], "doc_id long, text string"),
            "doc_id", "text",
        ).coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "phf_out")
    q = run_incremental_phash_stream(
        spark, src, base_media, out, str(tmp_path / "phf_ckpt"),
        thumbnailer=mm.fake_thumbnailer, max_hamming=6,
        fold_every=1, max_files_per_trigger=1,
    )
    q.awaitTermination(240)
    pairs = {
        (r["new_doc_id"], r["base_doc_id"], r["hamming"])
        for r in spark.read.parquet(f"{out}/pairs").collect()
    }
    assert pairs == {(102, 101, 0), (103, 101, 0)}
    fresh = {
        r["media_id"] for r in spark.read.parquet(f"{out}/fresh").collect()
    }
    assert fresh == {101}
