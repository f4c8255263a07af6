"""Regression guard: no TIMESTAMP_NTZ may escape ``io.load_table``.

Round-2 post-mortem (VERDICT.md r2): the driver regenerated testdata as
parquet ``timestamp[us]`` with no timezone, which Spark 4 reads as
TIMESTAMP_NTZ — and every ``unix_micros`` call site plus every
``withWatermark`` rejects NTZ, silently disabling four operators and the
whole bench. ``load_table`` now normalizes every NTZ column to
session-zoned TIMESTAMP (session TZ pinned UTC, so values equal the
oracle's reading of the same naive micros). This test fails loudly if
the driver regenerates data in yet another flavor (ms, ns, tz-aware)
that the normalization misses.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from purpleair_data_logger_spark import io as pio

SF_DIRS = [
    d
    for d in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    )
    if os.path.isdir(d)
]

@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("table", sorted(pio.TABLES))
def test_no_ntz_escapes_load_table(spark, sf_dir, table):
    df = pio.load_table(spark, sf_dir, table)
    ntz = [f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"]
    assert not ntz, f"{table}@{sf_dir}: NTZ columns escaped load_table: {ntz}"


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_event_ts_is_timestamp_and_watermarkable(spark, sf_dir):
    df = pio.load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    # unix_micros is the canonical NTZ-rejecting consumer — must analyze.
    df.select(F.unix_micros("ts")).limit(1).collect()


def test_load_table_values_match_naive_utc_reading(spark):
    """The NTZ→TIMESTAMP cast must be value-identical to DuckDB's
    naive-as-UTC reading of the same parquet micros."""
    import duckdb

    sf = SF_DIRS[0]
    spark_min = (
        pio.load_table(spark, sf, "events")
        .agg(F.unix_micros(F.min("ts")).alias("us"))
        .collect()[0]["us"]
    )
    duck_min = duckdb.sql(
        f"SELECT epoch_us(min(ts)) FROM read_parquet('{sf}/events.parquet')"
    ).fetchone()[0]
    assert spark_min == duck_min


def test_load_table_runs_no_spark_job(spark):
    """Every load is bound to its parquet footer's schema, so building
    one infers nothing: no Spark job runs until the query does."""
    sc = spark.sparkContext

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(None))

    before = jobs()
    for table in pio.TABLES:
        pio.load_table(spark, SF_DIRS[0], table)
    assert jobs() == before
