"""PurpleAir as a native Spark 4 Python DataSource.

The most idiomatic expression of the reference's polling ingestion
(SURVEY.md §2.1, §2.9): register once, then

    spark.dataSource.register(PurpleAirDataSource)
    df = spark.read.format("purpleair").option(...).load()          # batch
    df = spark.readStream.format("purpleair").option(...).load()    # stream

Batch mode issues one request per ``load()``; streaming mode is a
`SimpleDataSourceStreamReader` whose offset is the poll counter — each
micro-batch performs one (rate-limited by the trigger interval) API
request, exactly the reference's ``while True: fetch → store → sleep``
loop but with Spark owning scheduling, checkpointing and replay.

Offline-first: with ``fixture_path`` set, payloads come from a recorded
JSON file (e.g. the reference's hardware_variant_json_samples) instead
of HTTPS — this is what tests and CI use; production sets ``api_key``.
Predicate options (``location_type``, ``show_only``, ``modified_since``,
``max_age``, bbox) are forwarded to the server — the connector-level
pushdown of SURVEY.md §2.3.

Rows are emitted in the wire-form wide schema (SQL-safe names, epoch
longs, every accepted field present and sentinel-filled);
`operators.transforms.cast_epoch_to_timestamp` turns them into the
at-rest form. `payload_to_rows` is the package's only payload decoder:
the DataSource runs it on executors, and `payload_frame` runs it in the
calling process for `PurpleAirSource` and the CLI's `PollLoop`.
"""

from __future__ import annotations

import json
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from purpleair_data_logger_spark import schema as S

FORMAT_NAME = "purpleair"


def _wire_schema() -> StructType:
    return S.wide_schema(at_rest=False)


def payload_to_rows(payload: dict) -> list[tuple]:
    """Payload (single- or multi-sensor shape) → wire-form tuples.

    Pure python over the schema registry only, so it runs on executors
    (the DataSource readers) and in the calling process (`payload_frame`)
    alike.
    """
    fields = [f for f in S.KEY_FIELDS + S.FIELDS]

    def build(record: dict) -> tuple:
        out = []
        for f in fields:
            v = record.get(f.api_name)
            if v is None:
                v = f.sentinel if f.group != "__key__" else None
            if f.type_tag in ("int",):
                v = int(v) if v is not None else None
            elif f.type_tag == "epoch_ts":
                v = int(v) if v is not None else None
            elif f.type_tag == "double":
                v = float(v) if v is not None else None
            else:
                v = str(v) if v is not None else None
            out.append(v)
        return tuple(out)

    stamp = payload.get("data_time_stamp")
    records: list[dict] = []
    if "sensor" in payload:  # single-sensor nested shape → flatten
        rec = {"data_time_stamp": stamp}
        for k, v in payload["sensor"].items():
            if k == "stats":
                # Only the pseudo-average keys (pm2.5_10minute … _1week)
                # map to top level; stats["pm2.5"] must NOT overwrite the
                # instantaneous sensor["pm2.5"] reading ('stats' follows
                # 'pm2.5' in payload order), and stats["time_stamp"] is
                # a stats-refresh time, not a reading column
                # (PurpleAirDataLogger.py:118-148).
                for sk, sv in v.items():
                    if sk not in ("time_stamp", "pm2.5"):
                        rec[sk] = sv
            elif k in ("stats_a", "stats_b"):
                sfx = k[-1]
                for sk, sv in v.items():
                    if sk != "time_stamp":
                        rec[f"{sk}_{sfx}"] = sv
            else:
                rec[k] = v
        records.append(rec)
    else:  # multi-sensor fields×data shape
        names = payload["fields"]
        for row in payload["data"]:
            rec = dict(zip(names, row))
            rec["data_time_stamp"] = stamp
            records.append(rec)
    return [build(r) for r in records]


def payload_frame(spark: SparkSession, payload: dict) -> DataFrame:
    """Payload → wire-form frame built in the calling process: the same
    rows and schema ``format("purpleair")`` emits for it, in one
    partition like the DataSource's (a list handed to `createDataFrame`
    is spread over defaultParallelism partitions, one Python task each
    on every read)."""
    rows = spark.sparkContext.parallelize(payload_to_rows(payload), 1)
    return spark.createDataFrame(rows, _wire_schema())


def _fetch(options: dict) -> dict:
    fixture = options.get("fixture_path")
    if fixture:
        with open(fixture) as f:
            return json.load(f)
    # live mode: one HTTPS request via the request builders
    from purpleair_data_logger_spark.sources import purpleair_api as api

    key = options["api_key"]
    if options.get("mode", "multi") == "single":
        req = api.build_sensor_request(
            key,
            int(options["sensor_index"]),
            options.get("read_key"),
            options.get("fields"),
        )
    else:
        req = api.build_multi_sensor_request(
            key,
            options.get("fields", "sensor_index,name"),
            location_type=_opt_int(options, "location_type"),
            read_keys=options.get("read_keys"),
            show_only=options.get("show_only"),
            modified_since=_opt_int(options, "modified_since"),
            max_age=_opt_int(options, "max_age"),
            nwlng=_opt_float(options, "nwlng"),
            nwlat=_opt_float(options, "nwlat"),
            selng=_opt_float(options, "selng"),
            selat=_opt_float(options, "selat"),
        )
    return api.execute(req)


def _opt_int(options: dict, key: str):
    v = options.get(key)
    return int(v) if v is not None else None


def _opt_float(options: dict, key: str):
    v = options.get(key)
    return float(v) if v is not None else None


class PurpleAirBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = options

    def read(self, partition) -> Iterator[tuple]:
        yield from payload_to_rows(_fetch(self.options))


class PurpleAirStreamReader(SimpleDataSourceStreamReader):
    """Poll-per-microbatch: offset = number of polls performed.

    The trigger interval (e.g. ``processingTime='65 seconds'``) is the
    rate limit; Spark's checkpoint persists the offset, so a restart
    re-requests only the one batch whose commit-log entry is missing.
    """

    def __init__(self, options: dict):
        self.options = options

    def initialOffset(self) -> dict:
        return {"poll": 0}

    def read(self, start: dict):
        rows = payload_to_rows(_fetch(self.options))
        return iter(rows), {"poll": start["poll"] + 1}

    def readBetweenOffsets(self, start: dict, end: dict):
        """Replay of a batch that a restart found uncommitted: poll
        again. A fixture returns the batch's rows; a live API returns
        its current readings, and `start_ingest`'s key probe stores
        each reading once either way."""
        return iter(payload_to_rows(_fetch(self.options)))


class PurpleAirDataSource(DataSource):
    """``spark.read.format("purpleair")`` / ``readStream.format(...)``."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        return _wire_schema()

    def reader(self, schema: StructType) -> PurpleAirBatchReader:
        return PurpleAirBatchReader(dict(self.options))

    def simpleStreamReader(self, schema: StructType) -> PurpleAirStreamReader:
        return PurpleAirStreamReader(dict(self.options))


def register(spark) -> None:
    spark.dataSource.register(PurpleAirDataSource)
