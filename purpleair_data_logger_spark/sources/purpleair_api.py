"""PurpleAir API source connector (SURVEY.md §2.1 S1-S5).

Pure-function request builders that mirror the reference's REST surface
(reference ``purpleair_data_logger/PurpleAirAPI.py``), plus a source
facade that decodes each payload with the DataSource's decoder
(`spark_datasource.payload_frame`). Design points:

* Request construction is side-effect-free and unit-testable: build the
  URL/params, inject any transport (the default uses ``requests`` if
  available, but tests pass a stub returning recorded fixtures).
* Server-side filter params (``location_type``, ``show_only``,
  ``modified_since``, ``max_age``, bounding box) are the connector's
  predicate pushdown — SURVEY.md §2.3 F1-F6. ``location_type``,
  ``show_only``, ``modified_since`` and ``max_age`` also exist as
  post-scan DataFrame filters in `operators.filters`; the bounding box
  is the 2-D range leg of the `snapshot_filters` catalog query.
* Two reference bugs are intentionally NOT replicated:
  - historic requests sending ``modified_since=end_timestamp``
    (PurpleAirAPI.py:302);
  - the URL builder appending a second ``?`` when the base URL already
    has a query string (PurpleAirAPI.py:326-332 vs the multi-sensor URL
    built at :225).
* Auth probe (S4) validates the key via ``GET /v1/keys``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Mapping
from urllib.parse import urlencode

from pyspark.sql import DataFrame, SparkSession

from purpleair_data_logger_spark.sources.spark_datasource import payload_frame

BASE_URL = "https://api.purpleair.com/v1/"

#: Status-code dispatch, per reference PurpleAirAPIConstants.py:12-15.
SUCCESS_CODES = (200, 201)
ERROR_CODES = (400, 403, 404)

#: Historic endpoint's accepted server-side tumbling-mean grains in
#: minutes (reference PurpleAirAPI.py:261-262).
HISTORIC_AVERAGE_GRAINS = (0, 10, 30, 60, 360, 1440)


class PurpleAirAPIError(Exception):
    pass


@dataclass(frozen=True)
class Request:
    """A fully-built HTTP request: url (with query string) + headers."""

    url: str
    headers: Mapping[str, str] = field(default_factory=dict)


def _build(path: str, api_key: str, params: Mapping[str, object]) -> Request:
    """Append non-None params as a query string (single '?', encoded)."""
    qs = urlencode({k: v for k, v in params.items() if v is not None})
    url = BASE_URL + path + (f"?{qs}" if qs else "")
    return Request(url=url, headers={"X-API-Key": str(api_key)})


def build_keys_request(api_key: str) -> Request:
    """S4: auth/key-check probe (GET /v1/keys, PurpleAirAPI.py:66-95)."""
    return _build("keys", api_key, {})


def build_sensor_request(
    api_key: str,
    sensor_index: int,
    read_key: str | None = None,
    fields: str | None = None,
) -> Request:
    """S1: single-sensor scan (PurpleAirAPI.py:121-156). ``fields`` is
    the column-pruning pushdown."""
    return _build(
        f"sensors/{sensor_index}",
        api_key,
        {"read_key": read_key, "fields": fields},
    )


def build_multi_sensor_request(
    api_key: str,
    fields: str,
    location_type: int | None = None,
    read_keys: str | None = None,
    show_only: str | None = None,
    modified_since: int | None = None,
    max_age: int | None = None,
    nwlng: float | None = None,
    nwlat: float | None = None,
    selng: float | None = None,
    selat: float | None = None,
) -> Request:
    """S2: multi-sensor scan with pushed-down predicates
    (PurpleAirAPI.py:158-242). Parameter-for-parameter parity."""
    return _build(
        "sensors/",
        api_key,
        {
            "fields": fields,
            "location_type": location_type,
            "read_keys": read_keys,
            "show_only": show_only,
            "modified_since": modified_since,
            "max_age": max_age,
            "nwlng": nwlng,
            "nwlat": nwlat,
            "selng": selng,
            "selat": selat,
        },
    )


def build_historic_request(
    api_key: str,
    sensor_index: int,
    fields: str,
    read_key: str | None = None,
    start_timestamp: int | None = None,
    end_timestamp: int | None = None,
    average: int | None = None,
) -> Request:
    """S3: historic range scan with server-side downsampling
    (PurpleAirAPI.py:244-305). Range is half-open: ``data_timestamp >=
    start AND data_timestamp < end``. Does NOT send the reference's
    buggy ``modified_since=end_timestamp`` (PurpleAirAPI.py:302)."""
    if average is not None and average not in HISTORIC_AVERAGE_GRAINS:
        raise PurpleAirAPIError(
            f"average={average} not in accepted grains {HISTORIC_AVERAGE_GRAINS}"
        )
    return _build(
        f"sensors/{sensor_index}/history",
        api_key,
        {
            "fields": fields,
            "read_key": read_key,
            "start_timestamp": start_timestamp,
            "end_timestamp": end_timestamp,
            "average": average,
        },
    )


Transport = Callable[[Request], tuple[int, dict]]
"""A transport executes a Request and returns (status_code, json_dict)."""


def default_transport(req: Request) -> tuple[int, dict]:
    import requests  # gated: not needed for any offline path

    r = requests.get(req.url, headers=dict(req.headers))
    return r.status_code, r.json()


def execute(req: Request, transport: Transport = default_transport) -> dict:
    """S5: dispatch on status code (PurpleAirAPIConstants.py:12-15)."""
    status, payload = transport(req)
    if status in SUCCESS_CODES:
        return payload
    detail = f"{payload.get('error')} - {payload.get('description')}"
    raise PurpleAirAPIError(f"{status}: {detail}")


class PurpleAirSource:
    """Batch-shaped source facade: every fetch returns a DataFrame.

    The streaming poll loop (streaming.poll) drives this once per
    trigger; each micro-batch is the same SQL-named wire frame
    ``format("purpleair")`` emits, which the sink layer appends — one
    write per table per trigger instead of the reference's 9 INSERTs
    per reading.
    """

    def __init__(self, spark: SparkSession, api_key: str, transport: Transport = default_transport):
        self.spark = spark
        self.api_key = api_key
        self.transport = transport
        self._api_version: str | None = None
        self._api_key_type: str | None = None

    def check_api_key(self) -> bool:
        payload = execute(build_keys_request(self.api_key), self.transport)
        self._api_version = payload.get("api_version")
        self._api_key_type = payload.get("api_key_type")
        return True

    def fetch_sensor(self, sensor_index: int, read_key: str | None = None, fields: str | None = None) -> DataFrame:
        payload = execute(
            build_sensor_request(self.api_key, sensor_index, read_key, fields),
            self.transport,
        )
        return payload_frame(self.spark, payload)

    def fetch_multi(self, fields: str, **filters) -> DataFrame:
        payload = execute(
            build_multi_sensor_request(self.api_key, fields, **filters),
            self.transport,
        )
        return payload_frame(self.spark, payload)
