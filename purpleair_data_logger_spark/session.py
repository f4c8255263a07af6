"""SparkSession factory with the engine's standard configuration.

Centralizes the settings every entry point (tests, bench, driver
contract) needs so plans are reproducible:

* UTC session timezone — the reference stores UTC timestamps
  (``PurpleAirPSQLDataLogger.py:138-151`` uses ``timezone.utc``), and the
  DuckDB oracle treats naive parquet timestamps as UTC; pinning the
  session TZ makes epoch<->timestamp conversions agree bit-for-bit.
* AQE on (runtime coalesce + skew-join splitting) — on a real cluster
  this is what keeps the big shuffles healthy at 100 TB.
* Arrow enabled — every pandas-UDF operator (similarity, text analysis,
  multimodal) rides Arrow batches instead of pickled rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "purpleair-spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    cpus = default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Long-running sessions (bench: ~190 queries x 2 draws in one
        # JVM; a production driver: days) accumulate localCheckpoint
        # blocks from the materialize-once stages (band/sets/signature
        # tables): ContextCleaner frees a block only after a JVM GC
        # collects its RDD handle, and the default periodic-GC interval
        # (30 min) exceeds a whole bench run — blocks piled up until
        # late-session queries paid multi-second GC/storage pressure
        # (r13: ingest draws [20.0, 27.4, ...] healing to 4.5 under
        # retries). One driver-side System.gc() a minute is noise-level
        # cost and keeps storage bounded by LIVE queries only.
        # Env-overridable (ADVICE r13): large production driver heaps
        # without checkpoint pressure can relax it (e.g.
        # SPARK_GRAFT_PERIODIC_GC=30min restores Spark's default).
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "1min"),
        )
        # Reliable checkpoints (materialize.py with
        # SPARK_GRAFT_CHECKPOINT_DIR set) write files that Spark keeps
        # forever by default; per-trigger stream state would then grow
        # without bound. Delete them with their RDD, like local blocks.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable conf to a session we didn't build.

    The driver hands us its own SparkSession; timezone and AQE are
    runtime-settable, so pin the ones correctness depends on.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:
        pass
    return spark
