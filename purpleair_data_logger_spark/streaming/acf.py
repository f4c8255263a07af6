"""Streaming autocorrelation: the stateful mirror of
`operators/hyperfunctions.py::autocorr_exact`.

The batch operator pairs each observation with its lag-k successor via
one window pass and collapses the pairs to six exact BIGINT power sums
per (key, lag). Those sums are a MONOID — they only ever add — so the
stream carries them directly: per key, the state is the running
(n, Σx, Σy, Σxy, Σx², Σy²) for every lag plus the last ``max(lags)``
observations (the tail that seeds pairs crossing the batch boundary)
and the last processed (ts, id) cursor. Per micro-batch each new
observation closes exactly one new pair per lag (itself as y, the
observation k back as x — in the tail or earlier in the same batch),
so the update is a handful of vectorized array ops per key chunk,
no per-row Python.

Because the sums are exact integers and pair membership is a pure
function of the sequence, the streamed statistics are BIT-EXACT
against the batch operator after any prefix — the CMS/bottom-k parity
class. Values are scaled with ``scale_half_up`` (the half-away-from-
zero rule Spark's ``F.round`` applies in the batch path), keeping the
two paths' integers identical.

Cross-batch disorder contract (the CUSUM/heartbeat family): pairing is
sequential, and append mode cannot retract emitted statistics, so a
reading at-or-before the key's last processed (ts, id) cursor is
DROPPED — the mirror advances monotonically in event time and relies
on watermark-bounded source ordering. NULL value/ts/id rows carry no
observation, as in batch.

State per key: 6·|lags| BIGINTs + max(lags) tail values + the cursor —
O(max lag), independent of stream length. Each trigger emits every
(key, lag)'s current sums and ACF tagged with ``rows_seen`` (monotone;
readers take max(rows_seen) as the latest snapshot — the `frequent.py`
append posture).
"""

from __future__ import annotations

import math
from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from purpleair_data_logger_spark.streaming.counter import scale_half_up

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("sums", T.ArrayType(T.LongType())),  # 6 per lag
        T.StructField("tail", T.ArrayType(T.LongType())),
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("last_id", T.LongType()),
        T.StructField("rows_seen", T.LongType()),
    ]
)


def acf_from_sums(n: int, sx: int, sy: int, sxy: int, sxx: int, syy: int):
    """The batch closed form on exact integer sums (one float
    expression — bit-identical to `stats2d_exact`'s): NULL (None) for
    degenerate variance."""
    cov_n = n * sxy - sx * sy
    varx_n = n * sxx - sx * sx
    vary_n = n * syy - sy * sy
    if varx_n > 0 and vary_n > 0:
        return float(cov_n) / math.sqrt(float(varx_n) * float(vary_n))
    return None


def acf_stateful_func(lags: tuple[int, ...], decimals: int):
    lags = tuple(int(k) for k in lags)
    maxlag = max(lags)

    def update(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        # columns: key, ts_us, id, value
        sums = [0] * (6 * len(lags))
        tail: list[int] = []
        last_ts, last_id, rows_seen = -(2**62), -(2**62), 0
        if state.exists:
            s_sums, s_tail, last_ts, last_id, rows_seen = state.get
            sums = [int(v) for v in s_sums]
            tail = [int(v) for v in s_tail]
            last_ts, last_id = int(last_ts), int(last_id)
            rows_seen = int(rows_seen)
        batch = pdf.dropna(
            subset=[pdf.columns[1], pdf.columns[2], pdf.columns[3]]
        ).sort_values([pdf.columns[1], pdf.columns[2]], kind="mergesort")
        # disorder contract: drop rows at-or-before the cursor
        ts = batch.iloc[:, 1].to_numpy(dtype=np.int64)
        ids = batch.iloc[:, 2].to_numpy(dtype=np.int64)
        keep = (ts > last_ts) | ((ts == last_ts) & (ids > last_id))
        ts, ids = ts[keep], ids[keep]
        xs = scale_half_up(
            batch.iloc[:, 3].to_numpy(dtype=np.float64)[keep], 10**decimals
        )
        if len(xs):
            last_ts, last_id = int(ts[-1]), int(ids[-1])
        seen_before = rows_seen
        rows_seen += int(len(xs))
        ext = np.array(tail + list(xs), dtype=np.int64)
        t_len = len(tail)
        # loud-overflow contract (test_overflow_contracts discipline):
        # numpy int64 wraps SILENTLY where the batch path's ANSI mode
        # raises, so enforce the per-batch bound max|x|^2 * n < 2^63
        # explicitly before any product sum
        if len(ext):
            mx = int(np.abs(ext).max())
            if mx * mx * max(1, len(xs)) >= 2**63:
                raise ValueError(
                    "streaming acf: scaled values overflow the exact-"
                    f"BIGINT power sums (max |x| = {mx}) — lower "
                    "`decimals`, as in the batch operator"
                )
        for li, k in enumerate(lags):
            # each batch element xs[j] (global index seen_before + j)
            # closes the pair (x at k back, y = xs[j]) iff the global
            # index is >= k
            j = np.arange(len(xs))
            ok = (seen_before + j) >= k
            y = xs[ok]
            x = ext[t_len + j[ok] - k]
            b = li * 6
            sums[b + 0] += int(len(y))
            sums[b + 1] += int(np.sum(x))
            sums[b + 2] += int(np.sum(y))
            sums[b + 3] += int(np.sum(x * y))
            sums[b + 4] += int(np.sum(x * x))
            sums[b + 5] += int(np.sum(y * y))
        tail = [int(v) for v in ext[-maxlag:]] if len(ext) else []
        # ADVICE r10: the per-batch bound above does not cap the
        # ACCUMULATED sums — Python ints grow past 2^63 silently and
        # would only fail later inside state.update's Arrow
        # serialization with an opaque error. Raise the designed
        # descriptive error at the same boundary instead.
        if any(not -(2**63) <= v < 2**63 for v in sums):
            worst = max(sums, key=abs)
            raise ValueError(
                "streaming acf: accumulated exact-BIGINT power sums "
                f"overflow int64 state (|sum| = {abs(worst)}) — lower "
                "`decimals`, as in the batch operator"
            )
        state.update((sums, tail, last_ts, last_id, rows_seen))
        out = {
            "lag": [], "n_pairs": [], "sum_x": [], "sum_y": [], "acf": [],
            "rows_seen": [],
        }
        for li, k in enumerate(lags):
            n, sx, sy, sxy, sxx, syy = sums[li * 6 : li * 6 + 6]
            if n == 0:
                # batch emits no row for a pairless (key, lag) — a
                # phantom n_pairs=0 row would break snapshot parity
                # for keys shorter than the lag
                continue
            out["lag"].append(k)
            out["n_pairs"].append(n)
            out["sum_x"].append(sx)
            out["sum_y"].append(sy)
            out["acf"].append(acf_from_sums(n, sx, sy, sxy, sxx, syy))
            out["rows_seen"].append(rows_seen)
        yield pd.DataFrame(out).assign(**{pdf.columns[0]: key[0]})[
            [pdf.columns[0], "lag", "n_pairs", "sum_x", "sum_y", "acf",
             "rows_seen"]
        ]

    return update


def acf_by_key(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
    *,
    lags: tuple[int, ...] = (1, 2, 3),
    decimals: int = 2,
) -> DataFrame:
    """Per-key streaming ACF snapshots: (key, lag, n_pairs, sum_x,
    sum_y, acf, rows_seen) per trigger — exact integer sums, bit-exact
    against `autocorr_exact` after any prefix. O(max lag) state."""
    if not lags or any(int(k) < 1 for k in lags):
        raise ValueError(f"lags must be positive integers, got {lags}")
    src = stream.select(
        key_col,
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_ts_us"),
        F.col(id_col).cast("long").alias("_id"),
        F.col(value_col).cast("double").alias("_val"),
    )
    out_schema = T.StructType(
        [
            src.schema[key_col],
            T.StructField("lag", T.LongType()),
            T.StructField("n_pairs", T.LongType()),
            T.StructField("sum_x", T.LongType()),
            T.StructField("sum_y", T.LongType()),
            T.StructField("acf", T.DoubleType()),
            T.StructField("rows_seen", T.LongType()),
        ]
    )
    return src.groupBy(key_col).applyInPandasWithState(
        acf_stateful_func(tuple(lags), int(decimals)),
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
