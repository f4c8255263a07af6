"""Rate-limited poll ingestion (SURVEY.md §2.9 R1, §2.1 S1/S2).

The reference's ``while True: fetch → store → sleep(65)`` loops
(PurpleAirDataLogger.py:101-155, 157-215) become a micro-batch driver:
each trigger fetches one API payload, decodes it with the DataSource's
decoder, and appends one micro-batch per table — the Spark-native
trigger(processingTime="65s") shape, but expressed as an explicit loop
so it is testable without a live API or a streaming runtime.

Cadence contract (reference parity):
* default interval 65 s (PurpleAirDataLogger.py:41);
* enforced floor 60 s — setting lower raises (``:60-65``);
* vendor courtesy: one batched multi-sensor request preferred over many
  singles (PurpleAirPSQLDataLogger.py:8-13) — `poll_multi` is the
  default mode.
"""

from __future__ import annotations

import time
from typing import Callable

from purpleair_data_logger_spark.operators.transforms import cast_epoch_to_timestamp
from purpleair_data_logger_spark.sinks.tables import SensorTableStore
from purpleair_data_logger_spark.sources.purpleair_api import PurpleAirSource

DEFAULT_INTERVAL_SECONDS = 65
MIN_INTERVAL_SECONDS = 60


class PollIntervalError(ValueError):
    pass


def validate_interval(seconds: int) -> int:
    if seconds < MIN_INTERVAL_SECONDS:
        raise PollIntervalError(
            f"poll interval {seconds}s below enforced floor "
            f"{MIN_INTERVAL_SECONDS}s (reference PurpleAirDataLogger.py:60-65)"
        )
    return seconds


class PollLoop:
    """Drives source→store micro-batches at a fixed cadence."""

    def __init__(
        self,
        source: PurpleAirSource,
        store: SensorTableStore,
        *,
        interval_seconds: int = DEFAULT_INTERVAL_SECONDS,
        sleep: Callable[[float], None] = time.sleep,
    ):
        self.source = source
        self.store = store
        self.interval_seconds = validate_interval(interval_seconds)
        self._sleep = sleep

    def poll_single_once(self, sensor_index: int, read_key=None, fields=None) -> None:
        self._commit(self.source.fetch_sensor(sensor_index, read_key, fields))

    def poll_multi_once(self, fields: str, **filters) -> None:
        self._commit(self.source.fetch_multi(fields, **filters))

    def _commit(self, df) -> None:
        # start_ingest's commit; a poll loop replays nothing, so no key probe
        self.store.append_wide(cast_epoch_to_timestamp(df))

    def run(
        self,
        *,
        mode: str,
        iterations: int | None = None,
        **request_kwargs,
    ) -> int:
        """Run the loop; ``iterations=None`` loops forever (production),
        a finite count makes the loop testable. Returns batches done."""
        done = 0
        while iterations is None or done < iterations:
            if mode == "single":
                self.poll_single_once(**request_kwargs)
            elif mode == "multi":
                self.poll_multi_once(**request_kwargs)
            else:
                raise ValueError(f"unknown mode {mode!r}")
            done += 1
            if iterations is None or done < iterations:
                self._sleep(self.interval_seconds)
        return done
