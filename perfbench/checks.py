"""Correctness checks, one family per workload.

Each check compares what the program returned (or left on disk) with
the ground truth the generators computed, and names the operations it
finds wrong, so a failed check counts against those operations in the
run's ``failed`` total. Pure Python: the tests feed them deliberately
corrupted results without starting Spark.
"""

from __future__ import annotations

from collections import Counter
from typing import Iterable

#: slack for values the program rounds to 4 decimals before filtering
#: (dedup's Jaccard) or computes in another summation order (cosine).
ROUND_TOL = 5e-5


def poll_key_failures(
    payload_keys: list[list[tuple[int, int]]],
    schedule: list[int],
    table_keys: dict[str, list[tuple[int, int]]],
    *,
    base: Iterable[tuple[int, int]] = (),
) -> tuple[set[int], list[str]]:
    """After the ``base`` keys were loaded and ``schedule`` (payload per
    operation) was delivered, every table must hold each of those keys
    exactly once and nothing else.

    Returns (operations whose payload has a key missing or duplicated
    in some table, errors not attributable to an operation)."""
    expected = set(base) | {k for p in set(schedule) for k in payload_keys[p]}
    failed: set[int] = set()
    errors: list[str] = []
    for table, keys in sorted(table_keys.items()):
        counts = Counter(keys)
        bad = {k for k in expected if counts.get(k, 0) != 1}
        extra = [k for k in counts if k not in expected]
        if extra:
            errors.append(f"{table}: {len(extra)} keys no poll delivered")
        if bad:
            errors.append(f"{table}: {len(bad)} delivered keys missing or duplicated")
            for op, p in enumerate(schedule):
                if any(k in bad for k in payload_keys[p]):
                    failed.add(op)
    return failed, errors


def panel_ok(rows: list[tuple], expected: list[tuple]) -> bool:
    """Bucketed maxima equal the generator's, bucket for bucket."""
    return [tuple(r) for r in rows] == [tuple(e) for e in expected]


def reconstruct_ok(stamps: list[int], expected: list[int]) -> bool:
    """The rebuilt readings of one sensor-day are exactly the generated ones."""
    return sorted(stamps) == sorted(expected)


def directory_ok(rows: list[tuple[int, str]], expected: list[tuple[int, str]]) -> bool:
    """One ``name, index`` entry per sensor, ordered by sensor."""
    return [(i, f"{n}, {i}") for i, n in expected] == [tuple(r) for r in rows]


def pair_failures(pairs: Iterable[tuple[int, int, float]], exact, threshold: float) -> list[tuple]:
    """Reported pairs whose exact similarity, recomputed from the
    generated inputs by ``exact(a, b)``, is under ``threshold`` or
    disagrees with the reported value."""
    bad = []
    for a, b, reported in pairs:
        s = exact(a, b)
        if s < threshold - ROUND_TOL or abs(s - reported) > ROUND_TOL:
            bad.append((a, b, reported, s))
    return bad


def recall(found: Iterable[tuple[int, int]], planted: dict[tuple[int, int], float], threshold: float) -> tuple[float, int]:
    """(share of planted pairs at or above ``threshold`` that were
    found, number of such planted pairs)."""
    base = {p for p, s in planted.items() if s >= threshold}
    if not base:
        return 1.0, 0
    hit = base & {(min(a, b), max(a, b)) for a, b in found}
    return len(hit) / len(base), len(base)


def pii_failures(
    scrubbed: dict[int, tuple[str, int, int, int]],
    pii_strings: list[str],
    pii_counts: tuple[int, int, int],
) -> list[str]:
    """Scrubbed texts carry no planted PII string and the per-kind
    counts add up to what was planted."""
    errors = []
    totals = tuple(sum(v[k] for v in scrubbed.values()) for k in (1, 2, 3))
    if totals != tuple(pii_counts):
        errors.append(f"pii counts {totals} != planted {tuple(pii_counts)}")
    leaked = [s for s in pii_strings if any(s in v[0] for v in scrubbed.values())]
    if leaked:
        errors.append(f"{len(leaked)} planted pii strings survive scrubbing")
    return errors


def curated_failures(selected: list[int], survivors: set[int]) -> list[int]:
    """Documents selected more than once, selected but not a survivor
    (a planted exact copy: curation keeps the lowest id of each
    normalized text, and a copy has a higher id than its original), or
    a survivor left out. Every generated document passes the quality and
    language gates, so the survivors are the lowest id of each text."""
    counts = Counter(selected)
    return sorted({d for d, n in counts.items() if n > 1} | (set(counts) ^ survivors))
