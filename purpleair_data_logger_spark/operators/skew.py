"""Skew-mitigation utilities for hot keys at scale.

AQE's skew-join splitting (on by default in `session.get_spark`)
handles most runtime skew; these helpers cover the cases AQE can't:
skewed *aggregations* (one sensor producing a large share of readings)
and skewed joins against non-splittable stages. Classic two-phase
salting, expressed declaratively.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def skewed_variant(
    df: DataFrame,
    key_col: str,
    *,
    hot_value,
    hot_fraction: float = 0.3,
    seed_col: str,
) -> DataFrame:
    """Deterministic hot-key rewrite for skew benchmarking.

    Rewrites ``key_col`` to ``hot_value`` on a deterministic
    ``hot_fraction`` of rows (selected by hashing ``seed_col``, so the
    same input always yields the same skewed table). Models the
    one-sensor-dominates / one-user-dominates shape that breaks naive
    hash partitioning at scale.
    """
    pct = F.pmod(F.xxhash64(F.col(seed_col)), F.lit(1000))
    return df.withColumn(
        key_col,
        F.when(pct < int(hot_fraction * 1000), F.lit(hot_value)).otherwise(
            F.col(key_col)
        ),
    )


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    *,
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase sum/count/min/max (all algebraic aggregates that
    decompose over partials). Returns n/sum/min/max per key; mean =
    sum/n downstream."""
    salt = (F.spark_partition_id() % salt_buckets).alias("_salt")
    v = F.col(value_col)
    partial = df.groupBy(*keys, salt).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(v).alias("_sum"),
        F.min(v).alias("_min"),
        F.max(v).alias("_max"),
    )
    return partial.groupBy(*keys).agg(
        F.sum("_n").alias("n"),
        F.sum("_sum").alias("sum"),
        F.min("_min").alias("min"),
        F.max("_max").alias("max"),
    )


def replicated_skew_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    *,
    salt_buckets: int = 8,
) -> DataFrame:
    """Salted equi-join: big side gets a random salt, small side is
    replicated across all salt values, join key becomes (key, salt).

    For when the small side is too large to broadcast but the join key
    is skewed. Output = plain inner join rows (salt dropped).
    """
    salted_big = big.withColumn(
        "_salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    replicated_small = small.crossJoin(
        F.broadcast(
            small.sparkSession.range(salt_buckets).select(
                F.col("id").cast("int").alias("_salt")
            )
        )
    )
    out = salted_big.join(replicated_small, on=[key, "_salt"], how="inner")
    return out.drop("_salt")


def hot_cold_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    *,
    hot_keys: DataFrame | None = None,
    support_bp: int = 100,
    how: str = "inner",
) -> DataFrame:
    """Hot/cold split equi-join: rows whose key is HOT join against a
    broadcast of the small side's hot subset (the hot key never enters
    a shuffle at all); everything else takes the ordinary shuffle
    join; the union is exactly the plain join.

    Complements the module's other two strategies: AQE skew-splitting
    re-plans a skewed SORT-MERGE partition at runtime — but both sides
    have already shuffled, a hot key's rows still all land (split) on
    reducers, and stream-static joins can't re-plan at all.
    `replicated_skew_join` salts when the small side exceeds the
    broadcast budget. This one removes the hot keys' shuffle entirely
    whenever the small side's HOT SUBSET (|hot keys| rows ×
    replication) fits a broadcast — almost always, since hot keys are
    few by definition.

    ``hot_keys``: a one-column DataFrame of hot key values. Default
    None detects them with `aggregations.frequent_items` over the big
    side's key column at ``support_bp`` — the two-scan heavy-hitter
    pass whose candidate bound makes detection itself skew-proof.

    ``how``: ``inner`` or ``left`` (the split partitions the LEFT side
    exactly, so those are the semantics-preserving modes; right/full
    would double-count unmatched small rows across the legs).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner|left, got {how!r}")
    if hot_keys is None:
        from purpleair_data_logger_spark.operators.aggregations import (
            frequent_items,
        )

        hot_keys = frequent_items(
            big.select(key), key, support_bp=support_bp
        ).select(key)
    hot = F.broadcast(hot_keys.select(key).distinct())
    big_hot = big.join(hot, key, "leftsemi")
    big_cold = big.join(hot, key, "leftanti")
    small_hot = small.join(hot, key, "leftsemi")
    hot_out = big_hot.join(F.broadcast(small_hot), key, how)
    cold_out = big_cold.join(small, key, how)
    return hot_out.unionByName(cold_out)
