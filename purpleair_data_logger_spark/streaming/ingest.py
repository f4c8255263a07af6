"""End-to-end Structured Streaming ingestion: DataSource → store.

The full Spark-native replacement for the reference's poll loops:
``readStream.format("purpleair")`` (one API poll per micro-batch,
offsets checkpointed) → foreachBatch conform/cast → one write per
table per trigger into the partitioned parquet store. The trigger
interval is the rate limit (floor-validated like the reference's
setter, PurpleAirDataLogger.py:60-65).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from purpleair_data_logger_spark.operators.transforms import cast_epoch_to_timestamp
from purpleair_data_logger_spark.sinks.tables import SensorTableStore
from purpleair_data_logger_spark.sources import spark_datasource as ds
from purpleair_data_logger_spark.streaming.poll import validate_interval


def start_ingest(
    spark: SparkSession,
    store: SensorTableStore,
    *,
    checkpoint_path: str,
    source_options: dict | None = None,
    interval_seconds: int = 65,
    available_now: bool = False,
) -> StreamingQuery:
    """Start the streaming ingest query. Returns the StreamingQuery.

    ``available_now=True`` drains one batch and stops (tests/backfill
    catch-up); otherwise triggers every ``interval_seconds`` (validated
    against the 60 s floor).

    Every batch commits with ``dedup_against_existing=True``: a restart
    replays a batch whose sink ran but whose commit-log entry was never
    written, and the key probe lands each of its readings once.
    """
    ds.register(spark)
    reader = spark.readStream.format(ds.FORMAT_NAME)
    for k, v in (source_options or {}).items():
        if v is not None:
            reader = reader.option(k, v)
    stream = reader.load()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        wide = cast_epoch_to_timestamp(batch_df)
        store.append_wide(wide, dedup_against_existing=True)

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(
            processingTime=f"{validate_interval(interval_seconds)} seconds"
        )
    return writer.start()
