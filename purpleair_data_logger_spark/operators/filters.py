"""Composable predicate operators (SURVEY.md §2.3 F1-F4, F6).

The reference pushes every predicate to the PurpleAir server or the
downstream DB; in our engine the same predicates exist as declarative
DataFrame filters, so Catalyst pushes them into the parquet scan
(PushedFilters / partition pruning) — the Spark-native equivalent of
the reference's server-side pushdown. F5 (bounding box) is the 2-D
range leg of the `snapshot_filters` catalog query; F7 (time + sensor)
is `dashboard.panel`.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def location_type(df: DataFrame, value: int) -> DataFrame:
    """F1: equality filter, 0=outside / 1=inside (PurpleAirAPI.py:194-195)."""
    return df.filter(F.col("location_type") == F.lit(value))


def show_only(df: DataFrame, sensor_indexes: Sequence[int]) -> DataFrame:
    """F2: IN-list key restriction (PurpleAirAPI.py:200-201)."""
    return df.filter(F.col("sensor_index").isin(list(sensor_indexes)))


def modified_since(df: DataFrame, epoch_seconds: int) -> DataFrame:
    """F3: incremental-change filter (PurpleAirAPI.py:203-207)."""
    return df.filter(
        F.col("last_modified") > F.timestamp_seconds(F.lit(epoch_seconds))
    )


def max_age(df: DataFrame, seconds: int, *, now: Column | None = None) -> DataFrame:
    """F4: recency window — seen within the last N seconds
    (PurpleAirAPI.py:209-211; default 604800 = 1 week)."""
    ref = now if now is not None else F.current_timestamp()
    return df.filter(
        F.col("last_seen") >= ref - F.make_interval(secs=F.lit(seconds))
    )


def time_range(df: DataFrame, ts_col: str, start_epoch: int, end_epoch: int) -> DataFrame:
    """F6: half-open historic range — ts >= start AND ts < end
    (PurpleAirAPI.py:252-259). Prunes partitions when ts is the
    partition column."""
    return df.filter(
        (F.col(ts_col) >= F.timestamp_seconds(F.lit(start_epoch)))
        & (F.col(ts_col) < F.timestamp_seconds(F.lit(end_epoch)))
    )
