"""Streaming SCD2 maintenance: the stateful mirror of
`operators/scd.py::scd2_from_changelog`.

The production setting for a type-2 dimension is INCREMENTAL: changes
arrive as a CDC/event stream and the dimension must stay current
without re-windowing the whole changelog. The mirror carries exactly
one open episode per key — (current state, its valid_from, its version
number) — plus the (ts, id) cursor; each micro-batch's rows (sorted by
the batch operator's deterministic (ts, id) order) either extend the
open episode (same state re-emitted — not a version, the SCD2
convention) or CLOSE it and open the next. Closed episodes are emitted
as they close; the open episode is re-emitted once per trigger so an
append-mode reader always has the current row (take each key's rows at
max(rows_seen) for the open episode, all ``is_current = false`` rows
as the closed history — the `frequent.py` snapshot posture).

Episode membership is a pure function of the ordered sequence, so the
mirror is BIT-EXACT against the batch build after any prefix: closed
emissions equal the batch's non-current rows, the latest open emission
equals the batch's current row (pinned in pytest).

Cross-batch disorder contract (the CUSUM family): versioning is
sequential and append mode cannot retract an emitted episode, so a
change at-or-before the key's cursor is DROPPED — the dimension
advances monotonically in event time. NULL key/ts/id/state rows carry
no observation, as in batch.

State per key: one string + three longs + the cursor — O(1),
independent of stream length and episode count.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("cur_state", T.StringType()),
        T.StructField("cur_from_us", T.LongType()),
        T.StructField("version_n", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("last_id", T.LongType()),
        T.StructField("rows_seen", T.LongType()),
    ]
)


def scd2_stateful_func():
    def update(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        # columns: key, _ts_us, _id, _state
        cur_state, cur_from, version = None, None, 0
        last_ts, last_id, rows_seen = -(2**62), -(2**62), 0
        if state.exists:
            cur_state, cur_from, version, last_ts, last_id, rows_seen = (
                state.get
            )
            cur_from = None if cur_from is None else int(cur_from)
            version = int(version)
            last_ts, last_id = int(last_ts), int(last_id)
            rows_seen = int(rows_seen)
        batch = pdf.dropna(
            subset=[pdf.columns[1], pdf.columns[2], pdf.columns[3]]
        ).sort_values([pdf.columns[1], pdf.columns[2]], kind="mergesort")
        ts = batch.iloc[:, 1].to_numpy(dtype=np.int64)
        ids = batch.iloc[:, 2].to_numpy(dtype=np.int64)
        sts = batch.iloc[:, 3].astype(str).to_numpy()
        # disorder contract: at-or-before the cursor → dropped
        keep = (ts > last_ts) | ((ts == last_ts) & (ids > last_id))
        ts, ids, sts = ts[keep], ids[keep], sts[keep]
        closed: list[tuple[str, int, int, int]] = []  # state, from, to, ver
        if len(sts):
            last_ts, last_id = int(ts[-1]), int(ids[-1])
            rows_seen += int(len(sts))
            # change points, vectorized: row 0 vs the carried open
            # state, the rest vs their predecessor
            first_chg = cur_state is None or sts[0] != cur_state
            chg = np.concatenate(
                ([first_chg], sts[1:] != sts[:-1])
            )
            idx = np.flatnonzero(chg)  # O(changes) from here on
            if len(idx):
                if cur_state is not None:
                    closed.append(
                        (cur_state, cur_from, int(ts[idx[0]]), version)
                    )
                for a, b in zip(idx[:-1], idx[1:]):
                    version += 1
                    closed.append(
                        (str(sts[a]), int(ts[a]), int(ts[b]), version)
                    )
                version += 1
                cur_state, cur_from = str(sts[idx[-1]]), int(ts[idx[-1]])
        state.update(
            (cur_state, cur_from, version, last_ts, last_id, rows_seen)
        )
        rows = [
            {
                "state": s,
                "valid_from": pd.Timestamp(f, unit="us"),
                "valid_to": pd.Timestamp(t, unit="us"),
                "is_current": False,
                "version_n": v,
                "rows_seen": rows_seen,
            }
            for s, f, t, v in closed
        ]
        if cur_state is not None:
            rows.append(
                {
                    "state": cur_state,
                    "valid_from": pd.Timestamp(cur_from, unit="us"),
                    "valid_to": pd.NaT,
                    "is_current": True,
                    "version_n": version,
                    "rows_seen": rows_seen,
                }
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "state", "valid_from", "valid_to", "is_current",
                "version_n", "rows_seen",
            ],
        ).assign(**{pdf.columns[0]: key[0]})[
            [pdf.columns[0], "state", "valid_from", "valid_to",
             "is_current", "version_n", "rows_seen"]
        ]

    return update


def scd2_by_key(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    state_col: str,
) -> DataFrame:
    """Per-key streaming SCD2: closed episodes as they close + the
    open episode re-emitted per trigger, bit-exact against the batch
    `scd2_from_changelog` after any prefix. O(1) state per key."""
    src = stream.filter(F.col(key_col).isNotNull()).select(
        key_col,
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_ts_us"),
        F.col(id_col).cast("long").alias("_id"),
        F.col(state_col).cast("string").alias("_state"),
    )
    out_schema = T.StructType(
        [
            src.schema[key_col],
            T.StructField("state", T.StringType()),
            T.StructField("valid_from", T.TimestampType()),
            T.StructField("valid_to", T.TimestampType()),
            T.StructField("is_current", T.BooleanType()),
            T.StructField("version_n", T.LongType()),
            T.StructField("rows_seen", T.LongType()),
        ]
    )
    return src.groupBy(key_col).applyInPandasWithState(
        scd2_stateful_func(),
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
