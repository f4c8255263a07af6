#!/usr/bin/env python3
"""Regenerate QUERIES.md — the one-line-per-query index of the
catalog: name, SURVEY.md §2 reference, oracle kind, gate-window
position. Run after adding catalog queries."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from purpleair_data_logger_spark import catalog  # noqa: E402


def main() -> None:
    qs = catalog.all_queries()
    lines = [
        "# QUERIES — catalog index (generated by scripts/gen_query_index.py)",
        "",
        f"{len(qs)} queries. The driver's correctness gate records the "
        "first 50 (`catalog.all_queries` order: oldest committed "
        "`CORRECTNESS_r*.json` round first, then `_GATE_RETIRED`, then "
        "rows-only). `oracle`: full DuckDB SQL replay; `rows-only`: "
        "non-SQL-expressible (iterative/approximate), pytest-pinned "
        "instead.",
        "",
        "| # | query | check | SURVEY.md §2 / rationale |",
        "|---|---|---|---|",
    ]
    for i, (name, q) in enumerate(qs.items(), 1):
        gate = "gated" if i <= 50 else "deferred"
        kind = "oracle" if q.oracle else "rows-only"
        ref = " ".join(q.survey_ref.split())
        lines.append(f"| {i} ({gate}) | `{name}` | {kind} | {ref} |")
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "QUERIES.md",
    )
    with open(out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(qs)} queries")


if __name__ == "__main__":
    main()
