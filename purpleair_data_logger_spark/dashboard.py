"""The Grafana dashboard workload, Spark-native (SURVEY.md §3.3).

The reference ships a 10-panel dashboard whose SQL runs inside
TimescaleDB: a template variable resolving ``name <-> sensor_index``
from the hourly continuous aggregate, then per-table time-bucketed
``max()`` panels filtered by ``$__timeFilter AND sensor_index = $X``
(reference grafana_dashboards/*.json; continuous aggregate DDL at
PurpleAirPSQLQueryStatements.py:564-571).

Here the whole read path is Spark SQL over the parquet store: views
registered per table so both DataFrame and ``spark.sql`` entry points
work, panel queries as functions, the template-variable directory
query included. The time-range panels read through
`SensorTableStore.read_range`, whose ``reading_date`` bounds (UTC days
in any session time zone, the store's one date rule) become literal
partition filters (TimescaleDB's chunk exclusion), and sensor_index
row-group stats prune within a date, so the single-sensor panel
pattern stays cheap at any scale. Every table read is bound to the
schema registry, so building a query runs no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purpleair_data_logger_spark import schema as S
from purpleair_data_logger_spark.operators import aggregations as agg
from purpleair_data_logger_spark.sinks.tables import SensorTableStore

#: panel name -> (table, aggregated columns) per the dashboard JSON.
PANELS: dict[str, tuple[str, list[str]]] = {
    "environmental": (
        S.ENVIRONMENTAL,
        [f.sql_name for f in S.group_fields(S.ENVIRONMENTAL)],
    ),
    "miscellaneous": (
        S.MISCELLANEOUS,
        [f.sql_name for f in S.group_fields(S.MISCELLANEOUS)],
    ),
    "pm1_0": (S.PM1_0, [f.sql_name for f in S.group_fields(S.PM1_0)]),
    "pm2_5": (S.PM2_5, [f.sql_name for f in S.group_fields(S.PM2_5)]),
    "pm2_5_pseudo_average": (
        S.PM2_5_PSEUDO,
        [f.sql_name for f in S.group_fields(S.PM2_5_PSEUDO)],
    ),
    "pm10_0": (S.PM10_0, [f.sql_name for f in S.group_fields(S.PM10_0)]),
    "particle_count": (
        S.PARTICLE_COUNT,
        [f.sql_name for f in S.group_fields(S.PARTICLE_COUNT)],
    ),
    "station_numbers": (
        S.STATION,
        ["rssi", "uptime", "pa_latency", "memory"],
    ),
}


def register_views(store: SensorTableStore, *, suffix: str = "") -> None:
    """Expose the nine tables as temp views for `spark.sql` users."""
    for t in S.TABLE_NAMES:
        store.read(t).createOrReplaceTempView(t + suffix)


def directory(store: SensorTableStore) -> DataFrame:
    """Template variable: DISTINCT name/sensor_index with CONCAT."""
    return agg.distinct_directory(store.read(S.STATION), "sensor_index", "name")


def panel(
    store: SensorTableStore,
    panel_name: str,
    *,
    sensor_index: int,
    start_epoch: int,
    end_epoch: int,
    interval_seconds: int = 300,
) -> DataFrame:
    """One timeseries panel: $__timeGroup bucketed max() per column,
    filtered to the selected sensor + time range, ordered by bucket."""
    table, cols = PANELS[panel_name]
    df = store.read_range(table, start_epoch=start_epoch, end_epoch=end_epoch).filter(
        F.col("sensor_index") == sensor_index
    )
    out = agg.bucketed_agg(
        df,
        "data_time_stamp",
        interval_seconds,
        [],
        [F.max(c).alias(f"max_{c}") for c in cols],
        bucket_alias="bucket_ts",
    )
    return out.orderBy("bucket_ts")


def thingspeak_text_panel(
    store: SensorTableStore, *, start_epoch: int, end_epoch: int
) -> DataFrame:
    """The raw thingspeak-keys panel (last dashboard panel): id/key
    columns in range, no aggregation (mirrors the reference's
    ``SELECT data_time_stamp AS time, primary_id_a, ... FROM
    thingspeak_fields WHERE $__timeFilter``)."""
    cols = [
        "data_time_stamp",
        "sensor_index",
        "primary_id_a",
        "secondary_id_a",
        "primary_id_b",
        "primary_key_b",
        "secondary_id_b",
        "secondary_key_b",
    ]
    df = store.read_range(S.THINGSPEAK, start_epoch=start_epoch, end_epoch=end_epoch)
    return df.select(*cols).orderBy("data_time_stamp")


def station_text_panel(
    store: SensorTableStore, *, start_epoch: int, end_epoch: int
) -> DataFrame:
    """The one table panel: station text/identity columns in range."""
    text_cols = [
        "data_time_stamp",
        "sensor_index",
        "name",
        "model",
        "hardware",
        "firmware_version",
        "firmware_upgrade",
    ]
    df = store.read_range(S.STATION, start_epoch=start_epoch, end_epoch=end_epoch)
    return df.select(*text_cols).orderBy("data_time_stamp")
