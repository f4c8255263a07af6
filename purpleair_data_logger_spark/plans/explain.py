"""Physical-plan introspection helpers.

The 100 TB posture is only real if the plans show it: filters reaching
the parquet scan, small sides broadcast, aggregates map-side combined,
no surprise shuffles. These helpers turn `.explain()` output into
assertable facts so plan quality is pinned by tests, not hope.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def executed_plan(df: DataFrame) -> str:
    """Plan after AQE finalization.

    A `noop` write runs a *separate* QueryExecution, leaving the
    DataFrame's own plan at ``isFinalPlan=false`` — so instead execute
    the df's own physical plan JVM-side (no rows ship to the driver)
    and read it back once AQE has re-planned.
    """
    df._jdf.queryExecution().executedPlan().execute().count()
    return df._jdf.queryExecution().executedPlan().toString()


def assert_skew_split(df: DataFrame) -> str:
    """Assert AQE's OptimizeSkewedJoin split a skewed partition
    (``AQEShuffleRead skewed`` in the finalized plan). Returns the plan
    for further inspection."""
    plan = executed_plan(df)
    assert "isFinalPlan=true" in plan, f"AQE did not finalize\n{plan[:2000]}"
    assert re.search(r"AQEShuffleRead .*skewed", plan), (
        f"no skew-split AQEShuffleRead in executed plan\n{plan[:3000]}"
    )
    return plan


def pushed_filters(plan: str) -> list[str]:
    """Parquet-scan PushedFilters entries from a formatted plan."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        out.extend(p.strip() for p in m.group(1).split(",") if p.strip())
    return out


def read_schemas(plan: str) -> list[str]:
    return [m.group(1) for m in re.finditer(r"ReadSchema: (struct<[^\n]*)", plan)]


def count(plan: str, node: str) -> int:
    """Count physical nodes via their '(N) NodeName' detail headers
    (the tree section would double-count)."""
    return len(re.findall(rf"\(\d+\) {node}", plan))
