"""Row-transform operators: conformance, renames, casts, vertical split.

Spark-first re-expressions of the reference's per-dict transforms
(SURVEY.md §2.2 T3-T7). Each works on whole DataFrames — one narrow
projection the optimizer can fuse, instead of the reference's
row-at-a-time dict mutation. API payloads are not decoded here:
`sources.spark_datasource.payload_to_rows` flattens, zips, conforms and
renames them in one pass, and these operators serve other frames.

Reference parity notes (file:line in the reference's purpleair_data_logger/):

* T1 flatten        — PurpleAirDataLogger.py:118-148 (`payload_to_rows`)
* T2 fields×data    — PurpleAirDataLogger.py:193-208 (`payload_to_rows`)
* T3 conformance    — PurpleAirDataLogger.py:81-99 (dup: PurpleAirAPI.py:348-363)
* T4 vertical split — PurpleAirPSQLDataLogger.py:153-347 (9 projection blocks)
* T5 epoch cast     — PurpleAirPSQLDataLogger.py:138-151
* T7 rename map     — PurpleAirPSQLDataLogger.py:311-328
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from purpleair_data_logger_spark import schema as S


def conform(df: DataFrame, *, use_null: bool = False) -> DataFrame:
    """T3: schema conformance — every accepted field present, gaps filled.

    Default preserves the reference's observable sentinel semantics
    (missing/NULL → ``0`` / ``0.0`` / ``""``, PurpleAirDataLogger.py:81-99
    — note the DDL allows NULL but the reference always fills sentinels).
    ``use_null=True`` switches to honest SQL NULLs (SURVEY.md §7.4 risk 1).

    Output column order is fixed: keys, then registry order — so every
    downstream vertical split / write sees one stable wide schema.
    """
    present = set(df.columns)
    cols: list[Column] = []
    for f in S.KEY_FIELDS + S.FIELDS:
        name = f.api_name
        typ = f.wire_type.simpleString()
        if name in present:
            c = F.col(f"`{name}`").cast(typ)
            if not use_null and f.group != "__key__":
                c = F.coalesce(c, F.lit(f.sentinel).cast(typ))
        elif use_null or f.group == "__key__":
            c = F.lit(None).cast(typ)
        else:
            c = F.lit(f.sentinel).cast(typ)
        cols.append(c.alias(name))
    return df.select(*cols)


def rename_to_sql(df: DataFrame) -> DataFrame:
    """T7: API names → SQL-safe names (``pm2.5``→``pm2_5``, …)."""
    return df.select(
        *[F.col(f"`{c}`").alias(S.API_TO_SQL.get(c, c)) for c in df.columns]
    )


def rename_to_api(df: DataFrame) -> DataFrame:
    """T7 inverse: SQL-safe names → API names."""
    return df.select(
        *[F.col(f"`{c}`").alias(S.SQL_TO_API.get(c, c)) for c in df.columns]
    )


def cast_epoch_to_timestamp(df: DataFrame) -> DataFrame:
    """T5: epoch-seconds columns → UTC timestamps.

    Spark-native ``timestamp_seconds`` replaces the reference's per-value
    ``datetime.fromtimestamp(ts, timezone.utc)`` loop
    (PurpleAirPSQLDataLogger.py:138-151). NULL passes through, matching
    the reference's ``None`` branch.
    """
    epoch_cols = [c for c in df.columns if c in S.EPOCH_FIELDS]
    out = df
    for c in epoch_cols:
        out = out.withColumn(c, F.timestamp_seconds(F.col(c)))
    return out


def to_storage_form(df: DataFrame, *, use_null: bool = False) -> DataFrame:
    """API-named frame (wire types) → at-rest wide frame.

    conform → rename → epoch cast: the full write-path projection chain,
    still a single Catalyst-fusable select pipeline. A decoded payload
    (`payload_frame`, ``format("purpleair")``) is already SQL-named and
    conformed and needs only `cast_epoch_to_timestamp`; passed through
    here, conform would find none of its API names and sentinel-fill
    every column.
    """
    return cast_epoch_to_timestamp(rename_to_sql(conform(df, use_null=use_null)))


def vertical_split(df: DataFrame) -> dict[str, DataFrame]:
    """T4: one wide at-rest frame → the nine per-group frames.

    Each output selects the shared key plus its field group — the
    Spark-native form of the reference's nine INSERT projections
    (PurpleAirPSQLDataLogger.py:153-347). Column pruning means each
    written table only materializes its own columns.
    """
    out: dict[str, DataFrame] = {}
    for table in S.TABLE_NAMES:
        cols = S.KEY_COLUMNS + [f.sql_name for f in S.group_fields(table)]
        out[table] = df.select(*cols)
    return out
