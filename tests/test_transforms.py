from __future__ import annotations

import glob
import json
import os

from purpleair_data_logger_spark import schema as S
from purpleair_data_logger_spark.operators import transforms as X
from purpleair_data_logger_spark.sources.spark_datasource import payload_frame

from tests.conftest import REFERENCE_FIXTURES, SYNTHETIC_NESTED_FIXTURE

FIXTURE_FILES = sorted(glob.glob(os.path.join(REFERENCE_FIXTURES, "*.json"))) + [
    SYNTHETIC_NESTED_FIXTURE
]


def _load(path):
    with open(path) as f:
        return json.load(f)


def _stats_derived(sensor) -> set:
    """API names a stats / stats_a / stats_b struct produces. ``stats``
    yields only the pseudo-averages: its ``pm2.5`` must not overwrite
    the instantaneous reading (PurpleAirDataLogger.py:126-127)."""
    out = set()
    for sk, suffix in (("stats", ""), ("stats_a", "_a"), ("stats_b", "_b")):
        for k in sensor.get(sk, ()):
            if k != "time_stamp" and (sk, k) != ("stats", "pm2.5"):
                out.add(f"{k}{suffix}")
    return out


def test_flatten_all_hardware_variants(spark):
    """T1 against every recorded API payload the reference ships, plus
    the checked-in synthetic one."""
    for path in FIXTURE_FILES:
        payload = _load(path)
        df = payload_frame(spark, payload)
        row = df.collect()[0].asDict()
        assert row["data_time_stamp"] == payload["data_time_stamp"]
        assert row["sensor_index"] == payload["sensor"]["sensor_index"]
        # every accepted non-struct sensor key passes through (keys that
        # a stats struct also produces are overridden last-wins, like
        # the reference's dict — skip those from the pass-through check)
        stats_derived = _stats_derived(payload["sensor"])
        for k, v in payload["sensor"].items():
            if k in ("stats", "stats_a", "stats_b") or k in stats_derived:
                continue
            if k in S.BY_API_NAME:
                assert row[S.API_TO_SQL[k]] == v, f"{os.path.basename(path)}: {k}"
        # stats handling
        if "stats" in payload["sensor"]:
            st = payload["sensor"]["stats"]
            assert row["pm2_5_10minute"] == st["pm2.5_10minute"]
        if "stats_a" in payload["sensor"]:
            sa = payload["sensor"]["stats_a"]
            assert row["pm2_5_a"] == sa["pm2.5"]
            assert row["pm2_5_1week_a"] == sa["pm2.5_1week"]
        if "stats_b" in payload["sensor"]:
            sb = payload["sensor"]["stats_b"]
            assert row["pm2_5_30minute_b"] == sb["pm2.5_30minute"]


def test_conform_fills_all_accepted_fields(spark):
    """T3: the decoded payload always yields the full registry."""
    for path in FIXTURE_FILES:
        payload = _load(path)
        df = payload_frame(spark, payload)
        assert df.columns == [f.sql_name for f in S.KEY_FIELDS + S.FIELDS]
        row = df.collect()[0].asDict()
        # a field the payload does not carry gets its sentinel
        carried = set(payload["sensor"]) | _stats_derived(payload["sensor"])
        for f in S.FIELDS:
            if f.api_name not in carried:
                assert row[f.sql_name] == f.sentinel, f.api_name
        # spot-check: ozone1 only exists on some variants
        if "ozone1" not in payload["sensor"]:
            assert row["ozone1"] == 0.0


def test_conform_sentinel_vs_null(spark):
    df = spark.createDataFrame(
        [(1700000000, 7, None, 42)],
        "data_time_stamp long, sensor_index int, name string, rssi int",
    )
    sentinel = X.conform(df).collect()[0].asDict()
    assert sentinel["name"] == ""  # NULL → sentinel
    assert sentinel["rssi"] == 42
    assert sentinel["humidity"] == 0  # missing → sentinel
    assert sentinel["pm2.5_atm"] == 0.0
    assert sentinel["primary_key_a"] == ""

    nulls = X.conform(df, use_null=True).collect()[0].asDict()
    assert nulls["name"] is None
    assert nulls["humidity"] is None


def test_zip_fields_data(spark):
    # Shape per PurpleAirDataLogger.py:184-190.
    payload = {
        "api_version": "V1.0.11-0.0.34",
        "time_stamp": 1659710288,
        "data_time_stamp": 1659710232,
        "max_age": 604800,
        "firmware_default_version": "7.00",
        "fields": ["sensor_index", "name", "pm2.5_atm"],
        "data": [
            [131075, "Mariners Bluff", 1.5],
            [131079, "BRSKBV-outside", 2.25],
        ],
    }
    df = payload_frame(spark, payload)
    rows = {r["sensor_index"]: r.asDict() for r in df.collect()}
    assert len(rows) == 2
    assert rows[131075]["name"] == "Mariners Bluff"
    assert rows[131075]["data_time_stamp"] == 1659710232
    assert rows[131079]["pm2_5_atm"] == 2.25
    # conformance ran: unrequested fields are sentinel-filled
    assert rows[131075]["humidity"] == 0
    assert rows[131075]["model"] == ""


def test_storage_form_and_vertical_split(spark):
    payload = {
        "api_version": "V1",
        "time_stamp": 1659710288,
        "data_time_stamp": 1659710232,
        "fields": ["sensor_index", "name", "humidity", "pm2.5_atm", "last_seen"],
        "data": [[1, "a, comma", 40, 1.5, 1659710000]],
    }
    wide = X.cast_epoch_to_timestamp(payload_frame(spark, payload))
    assert wide.columns == [f.sql_name for f in S.KEY_FIELDS + S.FIELDS]
    row = wide.collect()[0].asDict()
    assert row["data_time_stamp"].year == 2022
    assert row["last_seen"].year == 2022
    assert row["pm2_5_atm"] == 1.5

    parts = X.vertical_split(wide)
    assert set(parts) == set(S.TABLE_NAMES)
    env = parts[S.ENVIRONMENTAL]
    assert env.columns == S.KEY_COLUMNS + [f.sql_name for f in S.group_fields(S.ENVIRONMENTAL)]
    assert env.collect()[0]["humidity"] == 40
    station = parts[S.STATION].collect()[0]
    assert station["name"] == "a, comma"


def test_rename_round_trip(spark):
    payload = {
        "data_time_stamp": 1659710232,
        "fields": ["sensor_index", "0.3_um_count", "pm10.0_cf_1"],
        "data": [[1, 5.0, 2.0]],
    }
    df = payload_frame(spark, payload)
    assert "um_count_0_3" in df.columns
    assert "pm10_0_cf_1" in df.columns
    back = X.rename_to_api(df)
    assert "0.3_um_count" in back.columns
    assert X.rename_to_sql(back).columns == df.columns


def test_snapshot_diff_semantics(spark):
    """operators/diff.py: inserted/deleted/changed classification,
    NULL→value flips count as changes (NULL-safe equality), unchanged
    rows are dropped, NULL keys carry no observation, and duplicate-PK
    copies fan out identically (diff stays comparable on damaged
    input)."""
    from purpleair_data_logger_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, None, 30.0),
         (4, "d", 40.0), (None, "x", 0.0), (6, "f", 60.0), (6, "f", 60.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),            # unchanged -> dropped
         (2, "b", 21.0),            # changed (value)
         (3, "c", 30.0),            # changed (NULL -> value)
         (5, "e", 50.0),            # inserted
         (None, "y", 0.0),          # NULL key: no observation
         (6, "f", 61.0), (6, "f", 61.0)],  # dup PK, both changed
        "k long, s string, v double",
    )
    rows = [
        (r["k"], r["status"])
        for r in snapshot_diff(old, new, ["k"], ["s", "v"]).collect()
    ]
    from collections import Counter

    got = Counter(rows)
    assert got[(2, "changed")] == 1
    assert got[(3, "changed")] == 1
    assert got[(4, "deleted")] == 1
    assert got[(5, "inserted")] == 1
    assert got[(6, "changed")] == 4  # 2x2 dup fan-out, deterministic
    assert sum(got.values()) == 8
    assert not any(k is None for k, _ in rows)
    assert not any(s == "unchanged" for _, s in rows)
