"""Streaming quantile estimates: the stateful mirror of
`operators/sketches.py::bottomk_quantiles`.

A stream cannot sort, and exact per-key order statistics are unbounded
state. The bottom-k sketch streams NATURALLY because membership is a
pure function of row identity: a row belongs to the sample iff its
portable md5 priority ("bk|" + id) is among the k smallest seen for
its key — so the state is just the current k smallest (priority, id,
value) triples per key, merged with each micro-batch's triples by the
same sort the batch operator runs. No randomness, no arrival-order
sensitivity: after ANY prefix of the stream the state equals the batch
sample of exactly the rows seen, so the final snapshot is BIT-EXACT
against `bottomk_quantiles` on the full table (pinned in pytest — the
strongest parity class, like the CMS mirror, and unlike the
approximate-carry MAD mirror).

State per key: 3 arrays of length ≤ k plus the exact rows_seen — O(k),
independent of stream length. Each trigger emits the key's current
estimate rows tagged with ``rows_seen`` (monotone per key; readers
take the rows at max(rows_seen) as the latest snapshot — the
`frequent.py` append-mode posture).

The per-batch md5 work runs inside the Arrow-batched state function
(hashlib over the micro-batch's ids — bounded by the trigger size,
never the corpus; the batch-side operator stays pure JVM).
"""

from __future__ import annotations

import hashlib
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from purpleair_data_logger_spark.operators.sketches import BOTTOMK_DEFAULT_K

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("prios", T.ArrayType(T.LongType())),
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("vals", T.ArrayType(T.DoubleType())),
        T.StructField("rows_seen", T.LongType()),
    ]
)


def bottomk_priority_py(row_id: int) -> int:
    """Python replica of `sketches._bottomk_priority`: first 15 hex
    digits of md5("bk|" + str(id)) as an int — bit-identical to the
    JVM/DuckDB members of the hash family (same construction the
    oracle SQL replays). Importable so tests cross-check all three."""
    digest = hashlib.md5(f"bk|{row_id}".encode("utf-8")).hexdigest()
    return int(digest[:15], 16)


def quantile_estimates_py(
    triples: list[tuple[int, int, float]], q_pcts: tuple[int, ...]
) -> list[tuple[int, int, float]]:
    """(q_pct, n_sample, est_value) rows from sample triples — the
    same nearest-rank-lower pick as `bottomk_quantiles`, ties broken
    by (value, id)."""
    if not triples:
        return []
    by_value = sorted(triples, key=lambda t: (t[2], t[1]))
    n = len(by_value)
    return [
        (int(q), n, by_value[(int(q) * (n - 1)) // 100][2]) for q in q_pcts
    ]


def bottomk_stateful_func(k: int, q_pcts: tuple[int, ...]):
    def update(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        # columns: key, id, value
        triples: list[tuple[int, int, float]] = []
        rows_seen = 0
        if state.exists:
            prios, ids, vals, rows_seen = state.get
            triples = list(zip(map(int, prios), map(int, ids), map(float, vals)))
            rows_seen = int(rows_seen)
        batch = pdf.dropna(subset=[pdf.columns[1], pdf.columns[2]])
        rows_seen += int(len(batch))
        triples += [
            (bottomk_priority_py(int(i)), int(i), float(v))
            for i, v in zip(batch.iloc[:, 1], batch.iloc[:, 2])
        ]
        # the batch operator's exact cut: sort by (priority, id, value),
        # keep k — merging state with the batch THIS way is what makes
        # any-prefix state == batch-sample-of-prefix, hence final
        # bit-exact parity
        triples = sorted(triples)[: int(k)]
        state.update(
            (
                [t[0] for t in triples],
                [t[1] for t in triples],
                [t[2] for t in triples],
                rows_seen,
            )
        )
        est = quantile_estimates_py(triples, q_pcts)
        yield pd.DataFrame(
            {
                "q_pct": [e[0] for e in est],
                "n_sample": [e[1] for e in est],
                "est_value": [e[2] for e in est],
                "rows_seen": [rows_seen] * len(est),
            }
        ).assign(**{pdf.columns[0]: key[0]})[
            [pdf.columns[0], "q_pct", "n_sample", "est_value", "rows_seen"]
        ]

    return update


def quantiles_by_group(
    stream: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
    *,
    k: int = BOTTOMK_DEFAULT_K,
    q_pcts: tuple[int, ...] = (10, 50, 90, 99),
) -> DataFrame:
    """Per-key streaming quantile snapshots: (group, q_pct, n_sample,
    est_value, rows_seen) per trigger, O(k) state per key, final
    snapshot bit-exact against the batch `bottomk_quantiles`."""
    for q in q_pcts:
        if not 0 <= int(q) <= 100:
            raise ValueError(
                f"q_pcts must be integer percents, got {q}"
            )
    src = stream.select(
        group_col,
        F.col(id_col).cast("long").alias("_id"),
        F.col(value_col).cast("double").alias("_val"),
    )
    out_schema = T.StructType(
        [
            src.schema[group_col],
            T.StructField("q_pct", T.LongType()),
            T.StructField("n_sample", T.LongType()),
            T.StructField("est_value", T.DoubleType()),
            T.StructField("rows_seen", T.LongType()),
        ]
    )
    return src.groupBy(group_col).applyInPandasWithState(
        bottomk_stateful_func(k, q_pcts),
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
