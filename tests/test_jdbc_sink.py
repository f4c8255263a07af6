"""K1/K2 live JDBC round-trip against embedded Derby.

The reference's flagship sinks are TimescaleDB/PSQL and SQLite
(PurpleAirPSQLDataLogger.py, PurpleAirSQLiteDataLogger.py). No
PSQL/SQLite server exists in this container, but Spark ships Apache
Derby — an embedded, in-process JDBC database — so the JDBC sink path
(`write_jdbc_sink` + `spark.read.jdbc`) gets a REAL round-trip: all
nine vertical tables written over JDBC, read back, and value-compared
against the parquet store holding the same batch."""

from __future__ import annotations

from purpleair_data_logger_spark import schema as S
from purpleair_data_logger_spark.operators import transforms as X
from purpleair_data_logger_spark.sinks.tables import (
    SensorTableStore,
    write_jdbc_sink,
)
from purpleair_data_logger_spark.sources.spark_datasource import payload_frame

BASE_TS = 1659710232


def _payload(ts, rows):
    return {
        "api_version": "V1",
        "time_stamp": ts + 56,
        "data_time_stamp": ts,
        "fields": ["sensor_index", "name", "humidity", "pm2.5_atm", "last_seen"],
        "data": rows,
    }


def _rowset(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def test_jdbc_nine_table_roundtrip_matches_parquet_store(spark, tmp_path):
    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    wide = X.cast_epoch_to_timestamp(
        payload_frame(
            spark,
            _payload(
                BASE_TS,
                [[1, "s1", 40, 1.5, 0], [2, "s,2\"q", 50, 2.5, 0]],
            ),
        )
    )
    store = SensorTableStore(spark, str(tmp_path / "tables"))
    store.append_wide(wide)

    parts = X.vertical_split(wide.dropDuplicates(S.KEY_COLUMNS))
    assert set(parts) == set(S.TABLE_NAMES)
    for table, part in parts.items():
        write_jdbc_sink(part, url, table, props, mode="overwrite")

    for table in S.TABLE_NAMES:
        via_jdbc = spark.read.jdbc(url, table, properties=props)
        via_parquet = store.read(table)
        assert sorted(via_jdbc.columns) == sorted(via_parquet.columns), table
        assert _rowset(via_jdbc) == _rowset(via_parquet), table


def test_jdbc_append_mode_accumulates(spark, tmp_path):
    url = f"jdbc:derby:{tmp_path}/derbydb2;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    wide1 = X.cast_epoch_to_timestamp(
        payload_frame(spark, _payload(BASE_TS, [[1, "s1", 40, 1.5, 0]]))
    )
    wide2 = X.cast_epoch_to_timestamp(
        payload_frame(spark, _payload(BASE_TS + 60, [[1, "s1", 41, 1.6, 0]]))
    )
    env1 = X.vertical_split(wide1)[S.ENVIRONMENTAL]
    env2 = X.vertical_split(wide2)[S.ENVIRONMENTAL]
    write_jdbc_sink(env1, url, S.ENVIRONMENTAL, props, mode="overwrite")
    write_jdbc_sink(env2, url, S.ENVIRONMENTAL, props, mode="append")
    assert spark.read.jdbc(url, S.ENVIRONMENTAL, properties=props).count() == 2
