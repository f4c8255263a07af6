from __future__ import annotations

import os
import json

import pytest

from purpleair_data_logger_spark.sources import purpleair_api as api
from purpleair_data_logger_spark.sources.config import ConfigError, JobConfig, load_config


def test_build_keys_request():
    r = api.build_keys_request("KEY")
    assert r.url == "https://api.purpleair.com/v1/keys"
    assert r.headers["X-API-Key"] == "KEY"


def test_build_sensor_request_optional_params():
    r = api.build_sensor_request("K", 12345)
    assert r.url == "https://api.purpleair.com/v1/sensors/12345"
    r = api.build_sensor_request("K", 12345, read_key="rk", fields="pm2.5_atm,name")
    assert "read_key=rk" in r.url
    assert "fields=pm2.5_atm%2Cname" in r.url
    assert r.url.count("?") == 1


def test_build_multi_sensor_request_single_question_mark():
    # The reference appends a second '?' when optional params follow the
    # fields query string (PurpleAirAPI.py:326-332) — we must not.
    r = api.build_multi_sensor_request(
        "K", "sensor_index,name", location_type=0, show_only="1,2,3", max_age=604800
    )
    assert r.url.count("?") == 1
    assert "location_type=0" in r.url
    assert "show_only=1%2C2%2C3" in r.url
    assert "max_age=604800" in r.url


def test_build_historic_request_no_modified_since_bug():
    r = api.build_historic_request(
        "K", 99, "pm2.5_atm", start_timestamp=100, end_timestamp=200, average=60
    )
    assert "start_timestamp=100" in r.url
    assert "end_timestamp=200" in r.url
    # the reference bug (PurpleAirAPI.py:302) must NOT be replicated
    assert "modified_since" not in r.url


def test_historic_average_grain_validation():
    with pytest.raises(api.PurpleAirAPIError):
        api.build_historic_request("K", 1, "pm2.5", average=15)


def test_execute_status_dispatch():
    ok = api.execute(api.Request("u"), transport=lambda r: (200, {"x": 1}))
    assert ok == {"x": 1}
    with pytest.raises(api.PurpleAirAPIError, match="403"):
        api.execute(
            api.Request("u"),
            transport=lambda r: (403, {"error": "ApiKeyInvalid", "description": "bad"}),
        )


def test_source_fetch_multi_with_stub_transport(spark):
    payload = {
        "api_version": "V1",
        "time_stamp": 1659710288,
        "data_time_stamp": 1659710232,
        "fields": ["sensor_index", "name", "pm2.5_atm", "pressure"],
        # JSON integers in double fields must decode, not raise
        "data": [[1, "s1", 1.5, 1013.25], [2, "s2", 0, 1012]],
    }
    src = api.PurpleAirSource(spark, "K", transport=lambda r: (200, payload))
    df = src.fetch_multi("sensor_index,name,pm2.5_atm,pressure")
    assert df.count() == 2
    assert "pm2_5_atm" in df.columns
    row = df.filter("sensor_index = 2").collect()[0]
    for col, want in (("pm2_5_atm", 0.0), ("pressure", 1012.0)):
        assert isinstance(row[col], float) and row[col] == want, col


def test_payload_frame_is_one_partition(spark):
    """`payload_frame` builds the DataSource's one partition, not one
    Python task per default-parallelism slice."""
    from purpleair_data_logger_spark import schema as S
    from purpleair_data_logger_spark.sources import spark_datasource as sds

    payload = {
        "data_time_stamp": 1659710232,
        "fields": ["sensor_index", "name", "pm2.5_atm"],
        "data": [[1, "s1", 1.5], [2, "s2", 2.5], [3, "s3", 3.5]],
    }
    df = sds.payload_frame(spark, payload)
    assert df.rdd.getNumPartitions() == 1
    assert df.schema == S.wide_schema(at_rest=False)
    assert [tuple(r) for r in df.collect()] == sds.payload_to_rows(payload)


def test_datasource_fetch_forwards_read_keys(monkeypatch):
    """`format("purpleair")` / `start_ingest` live mode must send the
    configured read keys, or private sensors are silently dropped."""
    from purpleair_data_logger_spark.sources import spark_datasource as sds

    sent = []
    monkeypatch.setattr(api, "execute", lambda req: sent.append(req.url) or {})
    sds._fetch(
        {"api_key": "k", "fields": "name", "read_keys": "abc,def", "max_age": "60"}
    )
    assert sent == [
        "https://api.purpleair.com/v1/sensors/"
        "?fields=name&read_keys=abc%2Cdef&max_age=60"
    ]


def test_config_xor(tmp_path):
    single = tmp_path / "single.json"
    single.write_text(json.dumps({"sensor_index": 1, "read_key": None, "fields": None}))
    cfg = load_config(single_file=str(single))
    assert cfg == JobConfig(mode="single", params={"sensor_index": 1, "read_key": None, "fields": None})

    with pytest.raises(ConfigError):
        load_config()
    with pytest.raises(ConfigError):
        load_config(multi_file="a", single_file="b")

    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({"fields": "x", "nope": 1}))
    with pytest.raises(ConfigError, match="unknown keys"):
        load_config(multi_file=str(bad))

    multi = tmp_path / "multi.json"
    multi.write_text(json.dumps({"fields": "sensor_index,name", "max_age": 0}))
    assert load_config(multi_file=str(multi)).mode == "multi"


_REF_SAMPLES = "/root/reference/sample_json_config_files"


@pytest.mark.skipif(not os.path.isdir(_REF_SAMPLES), reason="reference not mounted")
def test_reference_sample_configs_load_and_cover_field_universe():
    """The reference's shipped sample configs must load as-is, and the
    multi-sensor sample's `fields` list must equal the schema
    registry's field universe exactly (both directions) — proving the
    115-field registry matches what the reference actually requests."""
    from purpleair_data_logger_spark import schema as S

    single = load_config(
        single_file=os.path.join(_REF_SAMPLES, "sample_single_sensor_request_json_file.json")
    )
    assert single.mode == "single" and single.params["sensor_index"] == 53

    multi = load_config(
        multi_file=os.path.join(_REF_SAMPLES, "sample_multiple_sensor_request_json_file.json")
    )
    assert multi.mode == "multi"
    sample_fields = {x.strip() for x in multi.params["fields"].split(",")}
    registry_fields = {f.api_name for f in S.FIELDS}
    assert sample_fields == registry_fields
