"""Parity tests for the reference nine-file CSV layout
(`sinks.csv_layout` vs `PurpleAirCSVDataLoggerConstants.py:1-193`):
file names and headers must match the reference constants exactly, and
the written values must round-trip with wire (epoch-int) encoding."""

from __future__ import annotations

import os
import re

import pytest

from purpleair_data_logger_spark import schema as S
from purpleair_data_logger_spark.operators import transforms as X
from purpleair_data_logger_spark.sinks import csv_layout
from purpleair_data_logger_spark.sources.spark_datasource import payload_frame

REF_CONSTANTS = "/root/reference/purpleair_data_logger/PurpleAirCSVDataLoggerConstants.py"

BASE_TS = 1659710232


def _reference_layout() -> dict[str, list[str]]:
    """Parse file-name → header columns out of the reference constants
    (data comparison only — no code is executed or copied)."""
    src = open(REF_CONSTANTS).read()
    files = dict(re.findall(r'(\w+)_FILE_NAME = """(.+?)"""', src))
    headers: dict[str, list[str]] = {}
    for m in re.finditer(r'(\w+)_HEADER = \\\n((?:\s*".+?"\\?\n?)+)', src):
        cols = "".join(re.findall(r'"([^"]*)"', m.group(2))).split(",")
        headers[m.group(1)] = cols
    return {files[k]: headers[k] for k in files}


@pytest.mark.skipif(not os.path.exists(REF_CONSTANTS), reason="reference not mounted")
def test_file_names_and_headers_match_reference():
    ref = _reference_layout()
    ours = {
        csv_layout.CSV_FILE_NAMES[t]: csv_layout.csv_header(t) for t in S.TABLE_NAMES
    }
    assert set(ours) == set(ref)
    for fname in ref:
        assert ours[fname] == ref[fname], fname


def _payload(ts, rows):
    return {
        "api_version": "V1",
        "time_stamp": ts + 56,
        "data_time_stamp": ts,
        "fields": ["sensor_index", "name", "humidity", "pm2.5_atm", "last_seen"],
        "data": rows,
    }


def test_round_trip_values_and_epoch_encoding(spark, tmp_path):
    wide = X.cast_epoch_to_timestamp(
        payload_frame(spark, _payload(BASE_TS, [[1, "s1", 40, 1.5, BASE_TS - 7]]))
    )
    root = str(tmp_path / "csv")
    paths = csv_layout.write_reference_csv_layout(wide, root)
    assert sorted(os.listdir(root)) == sorted(csv_layout.CSV_FILE_NAMES.values())

    env = spark.read.option("header", True).csv(paths[S.ENVIRONMENTAL]).toPandas()
    assert list(env.columns) == csv_layout.csv_header(S.ENVIRONMENTAL)
    row = env.iloc[0]
    assert row["data_time_stamp"] == str(BASE_TS)  # epoch int, not timestamp text
    assert row["sensor_index"] == "1"
    assert row["humidity"] == "40"

    st = spark.read.option("header", True).csv(paths[S.STATION]).toPandas()
    srow = st.iloc[0]
    assert srow["name"] == "s1"
    assert srow["last_seen"] == str(BASE_TS - 7)  # EPOCH_TS re-encoded to wire form

    pm = spark.read.option("header", True).csv(paths[S.PM2_5]).toPandas()
    assert "pm2.5_atm" in pm.columns  # wire name with the dot preserved
    assert pm.iloc[0]["pm2.5_atm"] == "1.5"


def test_append_mode_accumulates(spark, tmp_path):
    root = str(tmp_path / "csv")
    for i, ts in enumerate([BASE_TS, BASE_TS + 60]):
        wide = X.cast_epoch_to_timestamp(
            payload_frame(spark, _payload(ts, [[1, "s1", 40 + i, 1.5, 0]]))
        )
        csv_layout.write_reference_csv_layout(wide, root)
    env = spark.read.option("header", True).csv(
        os.path.join(root, csv_layout.CSV_FILE_NAMES[S.ENVIRONMENTAL])
    )
    assert env.count() == 2
