from __future__ import annotations

import re

from pyspark.sql import functions as F

from purpleair_data_logger_spark import dashboard as dash
from purpleair_data_logger_spark import schema as S
from purpleair_data_logger_spark.io import load_table
from purpleair_data_logger_spark.operators import skew
from purpleair_data_logger_spark.operators import transforms as X
from purpleair_data_logger_spark.plans import explain as E
from purpleair_data_logger_spark.sinks.tables import SensorTableStore
from purpleair_data_logger_spark.sources.spark_datasource import payload_frame

BASE = 1659708000  # hour-aligned


def _seeded_store(spark, tmp_path) -> SensorTableStore:
    store = SensorTableStore(spark, str(tmp_path / "t"))
    rows = []
    for sensor in (1, 2):
        for i in range(24):
            ts = BASE + i * 300
            rows.append(
                [sensor, f"sensor {sensor}", 40 + i % 5, 1.0 * i, 20 + sensor, ts]
            )
    payload = {
        "data_time_stamp": BASE,
        "fields": ["sensor_index", "name", "humidity", "pm2.5_atm", "temperature", "last_seen"],
        "data": rows,
    }
    wide = X.cast_epoch_to_timestamp(payload_frame(spark, payload)).withColumn(
        "data_time_stamp", F.col("last_seen")
    )
    store.append_wide(wide)
    return store


def test_directory_and_panels(spark, tmp_path):
    store = _seeded_store(spark, tmp_path)

    d = dash.directory(store).collect()
    assert [r["sensor_index"] for r in d] == [1, 2]
    assert d[0]["name_and_sensor_index"] == "sensor 1, 1"

    p = dash.panel(
        store,
        "environmental",
        sensor_index=1,
        start_epoch=BASE,
        end_epoch=BASE + 7200,
        interval_seconds=600,
    ).collect()
    assert len(p) == 12  # 24 readings @300s → 12 buckets of 600s
    assert all(r["max_temperature"] == 21 for r in p)

    txt = dash.station_text_panel(
        store, start_epoch=BASE, end_epoch=BASE + 7200
    ).collect()
    assert len(txt) == 48
    assert txt[0]["name"] in ("sensor 1", "sensor 2")

    ts = dash.thingspeak_text_panel(
        store, start_epoch=BASE, end_epoch=BASE + 7200
    ).collect()
    assert len(ts) == 48
    assert "primary_id_a" in ts[0].asDict()


def _jobs_started(spark) -> set[int]:
    """Ids of the jobs the status tracker knows, once the listener bus
    has delivered every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_building_store_queries_runs_no_spark_job(spark, tmp_path):
    """Store reads are bound to the registry's schema, so building a
    table read, the J1 reconstruction or a panel infers no parquet
    schema: no Spark job runs until the query does."""
    store = _seeded_store(spark, tmp_path)
    before = _jobs_started(spark)
    store.read(S.ENVIRONMENTAL)
    store.reconstruct_reading().filter(F.col("sensor_index") == 1)
    dash.panel(
        store, "pm2_5", sensor_index=1, start_epoch=BASE, end_epoch=BASE + 7200
    )
    dash.directory(store)
    assert _jobs_started(spark) == before


def test_time_range_panels_prune_date_partitions(spark, tmp_path):
    """Each time-range panel's scan carries reading_date partition
    filters derived from its epoch range (chunk exclusion)."""
    store = _seeded_store(spark, tmp_path)
    rng = {"start_epoch": BASE, "end_epoch": BASE + 7200}
    for df in (
        dash.panel(store, "environmental", sensor_index=1, **rng),
        dash.thingspeak_text_panel(store, **rng),
        dash.station_text_panel(store, **rng),
    ):
        plan = E.formatted_plan(df)
        filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert filters and all("reading_date" in f for f in filters), plan
        assert len(df.collect()) > 0


def test_register_views_sql_entry(spark, tmp_path):
    store = _seeded_store(spark, tmp_path)
    dash.register_views(store)
    out = spark.sql(
        f"""
        SELECT sensor_index, max(humidity) AS max_humidity
        FROM {S.ENVIRONMENTAL}
        GROUP BY sensor_index ORDER BY sensor_index
        """
    ).collect()
    assert [r["sensor_index"] for r in out] == [1, 2]
    assert out[0]["max_humidity"] == 44


def test_salted_agg_matches_plain(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    plain = {
        (r["event_type"],): r
        for r in e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
        )
        .collect()
    }
    salted = {
        (r["event_type"],): r
        for r in skew.salted_agg(e, ["event_type"], "value").collect()
    }
    assert plain.keys() == salted.keys()
    for k in plain:
        assert plain[k]["n"] == salted[k]["n"]
        assert abs(plain[k]["sum"] - salted[k]["sum"]) < 1e-6
        assert plain[k]["min"] == salted[k]["min"]
        assert plain[k]["max"] == salted[k]["max"]


def test_replicated_skew_join_matches_broadcast(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    plain = e.join(c, "user_id").count()
    salted = skew.replicated_skew_join(e, c, "user_id").count()
    assert plain == salted


def test_sessionize_operator(spark):
    import datetime

    def t(m):
        return datetime.datetime(2024, 1, 1, 10, m)

    from purpleair_data_logger_spark.operators.sessionize import sessionize

    df = spark.createDataFrame(
        [(1, t(0)), (1, t(10)), (1, t(50)), (2, t(0))],
        "user_id int, ts timestamp",
    )
    out = {(r["user_id"], r["ts"].minute): r["session_id"] for r in sessionize(df, "user_id", "ts", gap_seconds=1800).collect()}
    assert out[(1, 0)] == 1
    assert out[(1, 10)] == 1  # within 30 min gap
    assert out[(1, 50)] == 2  # 40 min gap → new session
    assert out[(2, 0)] == 1
