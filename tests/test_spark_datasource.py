from __future__ import annotations

import glob
import json
import os

import pytest

from purpleair_data_logger_spark import schema as S
from purpleair_data_logger_spark.operators.transforms import cast_epoch_to_timestamp
from purpleair_data_logger_spark.sources import spark_datasource as ds

from tests.conftest import REFERENCE_FIXTURES, SYNTHETIC_NESTED_FIXTURE

FIXTURES = sorted(glob.glob(os.path.join(REFERENCE_FIXTURES, "*.json"))) + [
    SYNTHETIC_NESTED_FIXTURE
]


class CountingReader(ds.PurpleAirBatchReader):
    """Appends one line to the ``read_log`` option's file per read."""

    def read(self, partition):
        with open(self.options["read_log"], "a") as fh:
            fh.write("read\n")
        yield from super().read(partition)


class CountingDataSource(ds.PurpleAirDataSource):
    @classmethod
    def name(cls) -> str:
        return "purpleair_read_counting"

    def reader(self, schema):
        return CountingReader(dict(self.options))


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    ds.register(spark)
    spark.dataSource.register(CountingDataSource)


def _counted_load(spark, tmp_path, ts, rows):
    """A ``purpleair_read_counting`` frame of one multi-sensor payload,
    logging its reads to ``tmp_path/reads.log``."""
    p = tmp_path / f"m{ts}.json"
    p.write_text(
        json.dumps(
            {
                "data_time_stamp": ts,
                "fields": ["sensor_index", "name", "pm2.5_atm"],
                "data": rows,
            }
        )
    )
    return cast_epoch_to_timestamp(
        spark.read.format("purpleair_read_counting")
        .option("fixture_path", str(p))
        .option("read_log", str(tmp_path / "reads.log"))
        .load()
    )


def test_batch_read_single_sensor_fixture(spark):
    fixture = FIXTURES[-1]  # synthetic 3.0 variant with all three stats structs
    with open(fixture) as f:
        payload = json.load(f)
    df = spark.read.format("purpleair").option("fixture_path", fixture).load()
    assert df.columns == [f.sql_name for f in S.KEY_FIELDS + S.FIELDS]
    row = df.collect()[0].asDict()
    assert row["sensor_index"] == payload["sensor"]["sensor_index"]
    assert row["data_time_stamp"] == payload["data_time_stamp"]
    # stats_a flattened with suffix
    if "stats_a" in payload["sensor"]:
        assert row["pm2_5_10minute_a"] == payload["sensor"]["stats_a"]["pm2.5_10minute"]
    # absent fields sentinel-filled
    if "ozone1" not in payload["sensor"]:
        assert row["ozone1"] == 0.0
    # stats["pm2.5"] must NOT clobber the instantaneous sensor["pm2.5"]
    # ('stats' follows 'pm2.5' in payload order; the reference keeps
    # them separate — PurpleAirDataLogger.py:126-127)
    if "pm2.5" in payload["sensor"] and "stats" in payload["sensor"]:
        assert row["pm2_5"] == payload["sensor"]["pm2.5"]
    # storage chain composes
    ts_row = cast_epoch_to_timestamp(df).collect()[0]
    assert ts_row["data_time_stamp"].year >= 2022


def test_batch_read_multi_sensor_payload(spark, tmp_path):
    payload = {
        "api_version": "V1",
        "time_stamp": 1659710288,
        "data_time_stamp": 1659710232,
        "fields": ["sensor_index", "name", "pm2.5_atm", "humidity"],
        "data": [[1, "s1", 1.5, 40], [2, "s2", 2.5, 50]],
    }
    p = tmp_path / "multi.json"
    p.write_text(json.dumps(payload))
    df = spark.read.format("purpleair").option("fixture_path", str(p)).load()
    rows = {r["sensor_index"]: r.asDict() for r in df.collect()}
    assert len(rows) == 2
    assert rows[1]["pm2_5_atm"] == 1.5
    assert rows[2]["humidity"] == 50
    assert rows[1]["model"] == ""  # sentinel


def test_stream_read_polls_per_microbatch(spark, tmp_path):
    payload = {
        "data_time_stamp": 1659710232,
        "fields": ["sensor_index", "name", "pm2.5_atm"],
        "data": [[1, "s1", 1.5]],
    }
    p = tmp_path / "m.json"
    p.write_text(json.dumps(payload))
    q = (
        spark.readStream.format("purpleair")
        .option("fixture_path", str(p))
        .load()
        .writeStream.format("memory")
        .queryName("pa_stream_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM pa_stream_test").collect()
    assert len(out) >= 1
    assert out[0]["sensor_index"] == 1
    assert out[0]["pm2_5_atm"] == 1.5


def test_streaming_ingest_end_to_end(spark, tmp_path):
    """DataSource stream → foreachBatch → 9-table store: the complete
    Structured Streaming ingestion path (BASELINE.json north star)."""
    from purpleair_data_logger_spark.sinks.tables import SensorTableStore
    from purpleair_data_logger_spark.streaming.ingest import start_ingest

    payload = {
        "data_time_stamp": 1659710232,
        "fields": ["sensor_index", "name", "pm2.5_atm", "humidity"],
        "data": [[1, "s1", 1.5, 40], [2, "s2", 2.5, 50]],
    }
    p = tmp_path / "m.json"
    p.write_text(json.dumps(payload))
    store = SensorTableStore(spark, str(tmp_path / "tables"))
    q = start_ingest(
        spark,
        store,
        checkpoint_path=str(tmp_path / "ckpt"),
        source_options={"fixture_path": str(p)},
        available_now=True,
    )
    q.awaitTermination(180)
    env = store.read(S.ENVIRONMENTAL)
    assert env.count() == 2
    assert {r["humidity"] for r in env.collect()} == {40, 50}
    station = store.read(S.STATION)
    assert {r["name"] for r in station.collect()} == {"s1", "s2"}
    assert station.collect()[0]["data_time_stamp"].year == 2022


def test_ingest_routes_store_identical_rows(spark, tmp_path):
    """Every ingest route decodes with `payload_to_rows` and commits the
    same way, so one nested single-sensor payload plus one multi-sensor
    payload land as identical rows in all nine tables whether they come
    through the batch DataSource, the streaming ingest or the CLI's
    poll loop."""
    from purpleair_data_logger_spark.sinks.tables import SensorTableStore
    from purpleair_data_logger_spark.sources.purpleair_api import PurpleAirSource
    from purpleair_data_logger_spark.streaming.ingest import start_ingest
    from purpleair_data_logger_spark.streaming.poll import PollLoop

    with open(SYNTHETIC_NESTED_FIXTURE) as f:
        single = json.load(f)
    multi = {
        "data_time_stamp": single["data_time_stamp"] + 120,
        "fields": ["sensor_index", "name", "pm2.5_atm", "pressure", "humidity", "last_seen"],
        "data": [
            [single["sensor"]["sensor_index"], "s1", 0, 1012, 40, 1659710300],
            [7, "s7", 2.5, 1013.25, None, None],
        ],
    }
    paths = {}
    for name, payload in (("single", single), ("multi", multi)):
        paths[name] = tmp_path / f"{name}.json"
        paths[name].write_text(json.dumps(payload))

    stores = {
        route: SensorTableStore(spark, str(tmp_path / route))
        for route in ("batch", "stream", "poll")
    }
    for p in paths.values():
        df = spark.read.format("purpleair").option("fixture_path", str(p)).load()
        stores["batch"].append_wide(cast_epoch_to_timestamp(df))

    for name, p in paths.items():
        start_ingest(
            spark,
            stores["stream"],
            checkpoint_path=str(tmp_path / f"ckpt_{name}"),
            source_options={"fixture_path": str(p)},
            available_now=True,
        ).awaitTermination(180)

    for mode, payload, kwargs in (
        ("single", single, {"sensor_index": single["sensor"]["sensor_index"]}),
        ("multi", multi, {"fields": ",".join(multi["fields"])}),
    ):
        src = PurpleAirSource(spark, "K", transport=lambda r, p=payload: (200, p))
        loop = PollLoop(src, stores["poll"], sleep=lambda s: None)
        assert loop.run(mode=mode, iterations=1, **kwargs) == 1

    for table in S.TABLE_NAMES:
        got = {
            route: sorted(tuple(r) for r in store.read(table).collect())
            for route, store in stores.items()
        }
        assert len(got["batch"]) == 3, table
        assert got["stream"] == got["batch"], table
        assert got["poll"] == got["batch"], table


def test_append_reads_its_source_once(spark, tmp_path):
    """A deduplicating append into an existing store runs its source's
    read exactly once: in live mode every further read would be another
    HTTPS request, whose response can differ table to table."""
    from purpleair_data_logger_spark.sinks.tables import SensorTableStore

    log = tmp_path / "reads.log"
    rows = [[1, "s1", 1.5], [2, "s2", 2.5]]
    store = SensorTableStore(spark, str(tmp_path / "tables"))
    store.append_wide(_counted_load(spark, tmp_path, 1659710232, rows))
    log.write_text("")
    store.append_wide(
        _counted_load(spark, tmp_path, 1659710352, rows), dedup_against_existing=True
    )
    assert log.read_text().splitlines() == ["read"]
    for t in S.TABLE_NAMES:
        assert store.read(t).count() == 4, t


def test_upsert_reads_its_source_once(spark, tmp_path):
    """An upsert into an existing store runs its source's read exactly
    once, like an append: its nine tables store one response."""
    from purpleair_data_logger_spark.sinks.tables import SensorTableStore

    log = tmp_path / "reads.log"
    ts = 1659710232
    store = SensorTableStore(spark, str(tmp_path / "tables"))
    store.append_wide(_counted_load(spark, tmp_path, ts, [[1, "s1", 1.5], [2, "s2", 2.5]]))
    log.write_text("")
    store.upsert_wide(_counted_load(spark, tmp_path, ts, [[2, "s2", 9.5], [3, "s3", 3.5]]))
    assert log.read_text().splitlines() == ["read"]
    for t in S.TABLE_NAMES:
        assert store.read(t).count() == 3, t
    pm = {r["sensor_index"]: r["pm2_5_atm"] for r in store.read(S.PM2_5).collect()}
    assert pm == {1: 1.5, 2: 9.5, 3: 3.5}


def test_streaming_replay_of_uncommitted_batch_lands_each_key_once(spark, tmp_path):
    """A restart replays the batch whose commit-log entry is missing
    (the sink ran, the commit did not): every key still appears once in
    all nine tables."""
    from purpleair_data_logger_spark.sinks.tables import SensorTableStore
    from purpleair_data_logger_spark.streaming.ingest import start_ingest

    payload = {
        "data_time_stamp": 1659710232,
        "fields": ["sensor_index", "name", "pm2.5_atm"],
        "data": [[1, "s1", 1.5], [2, "s2", 2.5]],
    }
    p = tmp_path / "m.json"
    p.write_text(json.dumps(payload))
    store = SensorTableStore(spark, str(tmp_path / "tables"))
    ckpt = tmp_path / "ckpt"

    def drain():
        start_ingest(
            spark,
            store,
            checkpoint_path=str(ckpt),
            source_options={"fixture_path": str(p)},
            available_now=True,
        ).awaitTermination(180)

    drain()
    commits = ckpt / "commits"
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    for name in (str(last), f".{last}.crc"):
        if (commits / name).exists():
            (commits / name).unlink()
    drain()
    assert (commits / str(last)).exists()
    for t in S.TABLE_NAMES:
        keys = [tuple(r) for r in store.read(t).select(*S.KEY_COLUMNS).collect()]
        assert len(keys) == len(set(keys)) == 2, t
