"""Table loaders for the driver-generated parquet testdata (TESTDATA.md).

Handles TIMESTAMP(NANOS) parquet columns (e.g. ``events.ts``), which
Spark's reader rejects outright: those are read as raw nano longs
(``spark.sql.legacy.parquet.nanosAsLong``) and converted to proper
microsecond timestamps — the same truncation DuckDB applies, so oracle
comparisons agree exactly.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@lru_cache(maxsize=256)
def _footer(path: str) -> tuple[T.StructType, tuple[str, ...]]:
    """The Spark schema a read of ``path`` binds to, from its parquet
    footer (read once, on the driver), and the columns stored as
    TIMESTAMP(NANOS), which the schema types as raw nano longs. Binding
    the read spares Spark the schema-inference job of an unbound
    ``spark.read.parquet``; the types are the ones inference gives."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    arrow = pq.read_schema(path)
    nanos = tuple(f.name for f in arrow if str(f.type).startswith("timestamp[ns"))
    arrow = pa.schema([f.with_type(pa.int64()) if f.name in nanos else f for f in arrow])
    return from_arrow_schema(arrow, prefer_timestamp_ntz=True), nanos


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to session-zoned TIMESTAMP.

    Parquet ``timestamp[us]`` with no timezone is read by Spark 4 as
    TIMESTAMP_NTZ, which ``unix_micros`` / ``withWatermark`` reject.
    The session TZ is pinned to UTC (session.configure_existing) and
    DuckDB treats naive parquet timestamps as UTC too, so the cast is
    bit-identical to the oracle's view — the same reasoning as the
    nanos path above.
    """
    ntz_cols = [
        f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"
    ]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema, nanos_cols = _footer(path)
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(schema).parquet(path)
    for c in nanos_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return normalize_timestamps(df)
