from __future__ import annotations

from pyspark.sql import functions as F

from purpleair_data_logger_spark import schema as S
from purpleair_data_logger_spark.functions import scalar as fx
from purpleair_data_logger_spark.operators import transforms as X
from purpleair_data_logger_spark.sinks.tables import SensorTableStore
from purpleair_data_logger_spark.sources.spark_datasource import payload_frame


def test_scalar_functions(spark):
    df = spark.createDataFrame(
        [("BRSKBV-outside", 131079, 1659710232, '{"k": 7}')],
        "name string, sensor_index int, epoch long, props string",
    )
    row = df.select(
        fx.concat_name_index("name", "sensor_index").alias("c"),
        fx.epoch_to_timestamp("epoch").alias("ts"),
        fx.time_bucket_expr(fx.epoch_to_timestamp("epoch"), 3600).alias("bucket"),
        fx.json_get("props", "$.k").cast("int").alias("k"),
    ).collect()[0]
    assert row["c"] == "BRSKBV-outside, 131079"
    assert row["ts"].year == 2022
    assert row["bucket"].minute == 0 and row["bucket"].second == 0
    assert row["k"] == 7

    parsed = df.select(
        fx.split_part(fx.concat_name_index("name", "sensor_index")).cast("int").alias("i")
    ).collect()[0]
    assert parsed["i"] == 131079

    back = df.select(
        fx.timestamp_to_epoch(fx.epoch_to_timestamp("epoch")).alias("e")
    ).collect()[0]
    assert back["e"] == 1659710232


def test_cross_batch_idempotent_append(spark, tmp_path):
    """R6: re-delivering the same reading across micro-batches must not
    duplicate rows when dedup_against_existing is on."""
    store = SensorTableStore(spark, str(tmp_path / "t"))
    payload = {
        "data_time_stamp": 1659710232,
        "fields": ["sensor_index", "name", "humidity"],
        "data": [[1, "s1", 40], [2, "s2", 50]],
    }
    wide = X.cast_epoch_to_timestamp(payload_frame(spark, payload))
    store.append_wide(wide, dedup_against_existing=True)
    # same batch re-delivered + one genuinely new reading
    payload2 = {
        "data_time_stamp": 1659710232,
        "fields": ["sensor_index", "name", "humidity"],
        "data": [[1, "s1", 40], [2, "s2", 50], [3, "s3", 60]],
    }
    wide2 = X.cast_epoch_to_timestamp(payload_frame(spark, payload2))
    store.append_wide(wide2, dedup_against_existing=True)

    env = store.read(S.ENVIRONMENTAL)
    assert env.count() == 3
    assert env.filter(F.col("sensor_index") == 3).count() == 1


def test_csv_sink_quotes_commas(spark, tmp_path):
    """K3 fidelity: the reference's hand-rolled CSV writer corrupts on
    commas in `name` (PurpleAirCSVDataLogger.py:151-309); Spark's
    writer must round-trip them (documented deviation: correct-by-default)."""
    from purpleair_data_logger_spark.sinks.tables import write_csv_sink

    df = spark.createDataFrame(
        [(1, "comma, name", 40), (2, 'quote " name', 50)],
        "sensor_index int, name string, humidity int",
    )
    path = str(tmp_path / "csv")
    write_csv_sink(df, path)
    back = spark.read.option("header", True).csv(path)
    names = {r["name"] for r in back.collect()}
    assert names == {"comma, name", 'quote " name'}


def test_upsert_wide_replaces_existing_keys(spark, tmp_path):
    """Partition-scoped MERGE: existing PKs take new values, new PKs
    insert, untouched rows survive."""
    store = SensorTableStore(spark, str(tmp_path / "u"))
    day1 = {
        "data_time_stamp": 1659710232,
        "fields": ["sensor_index", "name", "humidity"],
        "data": [[1, "s1", 40], [2, "s2", 50]],
    }
    day2 = {
        "data_time_stamp": 1659710232 + 86400,
        "fields": ["sensor_index", "name", "humidity"],
        "data": [[1, "s1", 70]],
    }
    store.append_wide(X.cast_epoch_to_timestamp(payload_frame(spark, day1)))
    store.append_wide(X.cast_epoch_to_timestamp(payload_frame(spark, day2)))

    # upsert into day1: sensor 1 gets humidity 99, sensor 3 is new
    patch = {
        "data_time_stamp": 1659710232,
        "fields": ["sensor_index", "name", "humidity"],
        "data": [[1, "s1-renamed", 99], [3, "s3", 60]],
    }
    store.upsert_wide(X.cast_epoch_to_timestamp(payload_frame(spark, patch)))

    env = {
        (r["sensor_index"], r["data_time_stamp"].day): r
        for r in store.read(S.ENVIRONMENTAL).collect()
    }
    assert len(env) == 4  # day1: sensors 1,2,3; day2: sensor 1
    d1 = 5  # 2022-08-05
    assert env[(1, d1)]["humidity"] == 99  # replaced
    assert env[(2, d1)]["humidity"] == 50  # survived
    assert env[(3, d1)]["humidity"] == 60  # inserted
    assert env[(1, 6)]["humidity"] == 70  # other partition untouched
    station = {r["sensor_index"]: r for r in store.read(S.STATION).collect() if r["data_time_stamp"].day == d1}
    assert station[1]["name"] == "s1-renamed"
