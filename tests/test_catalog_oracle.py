"""Every oracle-backed catalog query must match DuckDB at sf0.001.

This replicates the driver's t2 gate locally (the driver runs sf0.01;
we default to sf0.001 for speed — set SPARK_GRAFT_SMOKE_DIR to run
bigger)."""

from __future__ import annotations

import pytest

from purpleair_data_logger_spark import catalog
from tests.oracle import compare

ORACLED = [q for q in catalog.all_queries().values() if q.oracle is not None]
ROWS_ONLY = [q for q in catalog.all_queries().values() if q.oracle is None]


@pytest.mark.parametrize("query", ORACLED, ids=[q.name for q in ORACLED])
def test_oracle_match(spark, sf_dir, query):
    df = query.fn(spark, sf_dir)
    ok, msg = compare(df, query.oracle, sf_dir)
    assert ok, f"{query.name}: {msg}"


@pytest.mark.parametrize("query", ROWS_ONLY, ids=[q.name for q in ROWS_ONLY])
def test_rows_only_runs(spark, sf_dir, query):
    df = query.fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_approx_distinct_within_hll_error_bounds(spark, sf_dir):
    """`approx_distinct_profile` has no SQL oracle (HLL sketches aren't
    portable across engines) — pin its correctness against the exact
    `cardinality_profile` instead. Spark's approx_count_distinct
    defaults to rsd=0.05; assert each estimate within 3x that relative
    error (HLL's error is Gaussian-ish; 3 sigma is a deterministic-in-
    practice bound for a fixed dataset since the sketch itself is
    deterministic for identical input)."""
    q = catalog.all_queries()
    exact = q["cardinality_profile"].fn(spark, sf_dir).first()
    approx = q["approx_distinct_profile"].fn(spark, sf_dir).first()
    for est, true in [
        (approx["approx_users"], exact["n_users"]),
        (approx["approx_types"], exact["n_types"]),
    ]:
        assert true > 0
        rel_err = abs(est - true) / true
        assert rel_err <= 0.15, f"HLL estimate {est} vs exact {true}: rel err {rel_err:.3f}"


def test_hll_sketch_merge_matches_exact_distincts(spark, sf_dir):
    """`hll_daily_users_merge` has no SQL oracle (DataSketches HLL
    bytes aren't engine-portable) — pin both levels against exact
    counts: every per-day estimate within HLL error of that day's
    exact distinct users, and the MERGED estimate within error of the
    all-time exact count (the property that makes per-day sketches a
    valid persisted artifact: union of sketches == sketch of union)."""
    from pyspark.sql import functions as F

    from purpleair_data_logger_spark.io import load_table

    q = catalog.all_queries()
    got = q["hll_daily_users_merge"].fn(spark, sf_dir).collect()
    assert got
    e = load_table(spark, sf_dir, "events")
    exact_day = {
        r["day"]: r["n"]
        for r in e.groupBy(F.to_date("ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    exact_total = e.select("user_id").distinct().count()
    for r in got:
        true = exact_day[r["day"]]
        assert abs(r["est_day_users"] - true) / true <= 0.15, r
        assert (
            abs(r["est_total_users"] - exact_total) / exact_total <= 0.15
        ), r


def test_gate_window_rotates_oldest_artifact_first():
    """VERDICT r5 #1: the 50-row driver gate window is computed from
    the committed CORRECTNESS_r*.json artifacts — oracled queries in
    oldest-newest-artifact order, rows-only queries pushed past every
    oracled one — so rotation is automatic and no oracled query's
    newest driver row can exceed the ⌈N/50⌉-round horizon."""
    import json
    from pathlib import Path

    root = Path(catalog.__file__).resolve().parent.parent
    arts = sorted(root.glob("CORRECTNESS_r*.json"))
    assert arts, "driver artifacts expected in the repo checkout"
    newest: dict[str, int] = {}
    for f in arts:
        rnd = int(f.stem.split("_r")[1])
        for q in json.loads(f.read_text()):
            newest[q] = max(newest.get(q, 0), rnd)

    names = list(catalog.all_queries())
    window = names[:50]
    # window is all-oracled (the standing gate invariant) and never
    # contains a gate-retired query (VERDICT r11 #4)
    assert all(catalog._REGISTRY[n].oracle is not None for n in window)
    assert not any(n in catalog._GATE_RETIRED for n in window)
    # ordering buckets: rotating-oracled < gate-retired < rows-only
    reg = catalog._REGISTRY

    def bucket(n):
        if reg[n].oracle is None:
            return 2
        return 1 if n in catalog._GATE_RETIRED else 0

    buckets = [bucket(n) for n in names]
    assert buckets == sorted(buckets)
    first_retired = buckets.index(1) if 1 in buckets else len(names)

    # a query's age is its newest artifact round (0 if never gated)
    def age(n):
        return newest.get(n, 0)

    # active oracled section is sorted by age ascending
    rounds = [age(n) for n in names[:first_retired]]
    assert rounds == sorted(rounds)
    # a query never seen in any artifact (round 0) gates first
    assert min(rounds) == rounds[0]
    # freshness: no rotating query OUTSIDE the window is staler than
    # anything inside it
    if first_retired > 50:
        assert max(age(n) for n in window) <= min(
            age(n) for n in names[50:first_retired]
        )


def test_gate_order_without_artifacts(monkeypatch):
    """A checkout without CORRECTNESS_r*.json artifacts gets the same
    sort with every query at round 0: an all-oracled, retirement-free
    window, the buckets in order, and registry order inside each."""
    monkeypatch.setattr(catalog, "_artifact_rounds", lambda: {})
    reg = catalog._REGISTRY
    names = list(catalog.all_queries())
    assert sorted(names) == sorted(reg)
    for n in names[: catalog.GATE_WINDOW]:
        assert reg[n].oracle is not None and n not in catalog._GATE_RETIRED

    def bucket(n):
        if reg[n].oracle is None:
            return 2
        return 1 if n in catalog._GATE_RETIRED else 0

    buckets = [bucket(n) for n in names]
    assert buckets == sorted(buckets)
    idx = {n: i for i, n in enumerate(reg)}
    for b in set(buckets):
        members = [idx[n] for n in names if bucket(n) == b]
        assert members == sorted(members)
    catalog._validate_gate_lists()


def test_gate_retirement_contract():
    """VERDICT r11 #4: retirement rule + headroom invariant, executable.
    Every retired name is a registered, oracled query with at least one
    recorded driver-gate round, and the rotation keeps >= GATE_HEADROOM_MIN
    spare slots after all retirements (the import-time guard, re-stated
    here so a pytest run shows the numbers)."""
    reg = catalog._REGISTRY
    retired = catalog._GATE_RETIRED
    assert retired, "r12+ keeps a non-empty retirement ledger"
    for n, why in retired.items():
        assert n in reg, n
        assert reg[n].oracle is not None, f"{n}: rows-only cannot retire"
        assert why.strip(), f"{n}: rationale required"
    newest = catalog._artifact_rounds()
    assert newest, "driver artifacts expected in the repo checkout"
    never_gated = [n for n in retired if not newest.get(n)]
    assert not never_gated, f"retired without a recorded gate round: {never_gated}"
    n_active = sum(
        1 for n, q in reg.items() if q.oracle is not None and n not in retired
    )
    capacity = catalog.GATE_WINDOW * catalog.FRESHNESS_HORIZON_ROUNDS
    assert capacity - n_active >= catalog.GATE_HEADROOM_MIN, (
        n_active,
        capacity,
    )
