"""Property-based round-trip invariant (SURVEY.md §5.4): the payload
decoder always yields exactly the registry schema with sentinel fill,
no matter which fields the payload dropped — mirroring the reference's
``_validate_sensor_data_before_insert`` semantics
(PurpleAirDataLogger.py:81-99) — and agrees row for row with the
DataFrame-level ``conform`` on the same record."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from purpleair_data_logger_spark import schema as S
from purpleair_data_logger_spark.operators import transforms as X
from purpleair_data_logger_spark.sources.spark_datasource import payload_to_rows

FIELD_NAMES = [f.api_name for f in S.FIELDS]


@given(
    subset=st.sets(st.sampled_from(FIELD_NAMES), max_size=12),
    sensor_index=st.integers(min_value=0, max_value=10**6),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_conform_always_full_registry(spark, subset, sensor_index):
    fields = ["sensor_index", *subset]
    values = [sensor_index]
    for name in subset:
        f = S.BY_API_NAME[name]
        values.append({"int": 7, "double": 1.5, "string": "x", "epoch_ts": 1659710000}[f.type_tag])
    payload = {
        "data_time_stamp": 1659710232,
        "fields": fields,
        "data": [values],
    }
    (rec,) = payload_to_rows(payload)
    row = dict(zip([f.sql_name for f in S.KEY_FIELDS + S.FIELDS], rec))
    for f in S.FIELDS:
        if f.api_name not in subset:
            assert row[f.sql_name] == f.sentinel, f.api_name
        else:
            assert row[f.sql_name] is not None

    # the same record as an API-named frame, conformed by Spark
    cols = [*fields, "data_time_stamp"]
    raw = spark.createDataFrame(
        [(*values, payload["data_time_stamp"])],
        ", ".join(f"`{n}` {S.BY_API_NAME[n].wire_type.simpleString()}" for n in cols),
    )
    conformed = X.rename_to_sql(X.conform(raw))
    assert conformed.columns == list(row)
    assert [tuple(r) for r in conformed.collect()] == [rec]
