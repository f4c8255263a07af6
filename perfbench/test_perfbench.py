"""Tests of the benchmark itself: input generators, result checks and
the metric printer. No Spark session is started.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import inspect
import os
import shutil
import subprocess
import sys
import time
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS, CorpusCuration  # noqa: E402

from purpleair_data_logger_spark.operators import text  # noqa: E402

SPEC = run.load_spec()


@pytest.fixture(scope="module")
def sensor(tmp_path_factory):
    return gen.gen_poll_dashboard(str(tmp_path_factory.mktemp("sensor")), 5, n_ops=12)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    return gen.gen_corpus_curation(str(tmp_path_factory.mktemp("corpus")), 5)


# -- generators ----------------------------------------------------------


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_writes_same_bytes(name, tmp_path):
    digests = {}
    for label, seed in (("a", 7), ("b", 7), ("c", 8)):
        WORKLOADS[name].generate(str(tmp_path / label), seed, 4)
        digests[label] = run.tree_digest(str(tmp_path / label))
    assert digests["a"] == digests["b"]
    assert digests["a"] != digests["c"]


def test_one_timed_cycle_in_five_redelivers(sensor):
    w = gen.WARMUP_OPS
    redelivered = [i for i in range(len(sensor.schedule)) if sensor.redelivered(i)]
    assert redelivered == [i for i in range(w, len(sensor.schedule)) if (i - w) % gen.REDELIVER_EVERY == 1]


def test_refresh_mix_and_truth(sensor):
    for i, refresh in enumerate(sensor.refreshes):
        panels = gen.REFRESH_PANELS if i >= gen.WARMUP_OPS else 1
        assert [q.kind for q in refresh] == ["directory"] + ["panel"] * panels + ["reconstruct"]
        assert all(q.expected is not None for q in refresh)
    # every refresh sees the newest poll: some panel ends right after it
    assert any(q.expected for refresh in sensor.refreshes for q in refresh if q.kind == "panel")


def test_planted_corpus_pairs(corpus):
    at_threshold = [s for s in corpus.planted_doc_pairs.values() if s >= CorpusCuration.JACCARD]
    assert len(at_threshold) >= 50
    for (a, b), s in corpus.planted_doc_pairs.items():
        assert s == gen.jaccard(corpus.texts[a], corpus.texts[b])
    assert all(s >= CorpusCuration.COSINE for s in corpus.planted_vec_pairs.values())
    assert sum(corpus.pii_counts) == len(corpus.pii_strings)


def test_every_document_passes_the_curation_gates(corpus):
    """So the curated selection is every text's lowest id."""
    params = inspect.signature(text.curate).parameters
    for t in corpus.texts.values():
        toks = t.split(" ")
        assert len(toks) >= params["min_tokens"].default
        assert max(Counter(toks).values()) / len(toks) <= params["max_top_token_share"].default
        assert any(tok in text.LANG_STOPWORDS[lang] for lang in gen._LANGS for tok in toks)
    assert len(set(corpus.texts.values())) == len(corpus.texts) - len(corpus.exact_copies)


# -- checks fail on corrupted results -----------------------------------


def _stored(sensor, ops: int) -> tuple[list[int], dict[str, list]]:
    done = sensor.schedule[:ops]
    keys = list(sensor.backfill_keys) + [k for p in sorted(set(done)) for k in sensor.payload_keys[p]]
    return done, {t: list(keys) for t in ("station", "pm2_5")}


def test_poll_keys_check(sensor):
    done, tables = _stored(sensor, 6)
    assert checks.poll_key_failures(sensor.payload_keys, done, tables, base=sensor.backfill_keys) == (set(), [])

    lost = sensor.payload_keys[done[3]][0]
    tables["pm2_5"].remove(lost)
    failed, errors = checks.poll_key_failures(sensor.payload_keys, done, tables, base=sensor.backfill_keys)
    assert 3 in failed and errors

    _, tables = _stored(sensor, 6)
    tables["station"].append(sensor.payload_keys[done[1]][5])  # a re-delivery landed twice
    failed, errors = checks.poll_key_failures(sensor.payload_keys, done, tables, base=sensor.backfill_keys)
    assert failed and errors

    _, tables = _stored(sensor, 6)
    tables["station"].append((0, 0))
    assert checks.poll_key_failures(sensor.payload_keys, done, tables, base=sensor.backfill_keys)[1]

    _, tables = _stored(sensor, 6)
    tables["station"].remove(sensor.backfill_keys[0])
    assert checks.poll_key_failures(sensor.payload_keys, done, tables, base=sensor.backfill_keys)[1]


def test_dashboard_checks(sensor):
    refresh = sensor.refreshes[-1]
    directory, panel, reconstruct = refresh[0], refresh[1], refresh[-1]
    assert panel.expected and reconstruct.expected

    assert checks.panel_ok(list(panel.expected), panel.expected)
    bucket, first, *rest = panel.expected[0]
    assert not checks.panel_ok([(bucket, first + 1, *rest)] + panel.expected[1:], panel.expected)
    assert not checks.panel_ok(panel.expected[1:], panel.expected)

    assert checks.reconstruct_ok(reconstruct.expected[::-1], reconstruct.expected)
    assert not checks.reconstruct_ok(reconstruct.expected[1:], reconstruct.expected)

    rows = [(i, f"{n}, {i}") for i, n in directory.expected]
    assert checks.directory_ok(rows, directory.expected)
    rows[0] = (rows[0][0], "renamed, 0")
    assert not checks.directory_ok(rows, directory.expected)


def test_pair_and_recall_checks(corpus):
    def exact(a, b):
        return gen.jaccard(corpus.texts[a], corpus.texts[b])

    threshold = CorpusCuration.JACCARD
    good = [(a, b, s) for (a, b), s in corpus.planted_doc_pairs.items() if s >= threshold]
    assert checks.pair_failures(good, exact, threshold) == []
    assert checks.recall([(a, b) for a, b, _ in good], corpus.planted_doc_pairs, threshold)[0] == 1.0

    a, b, s = good[0]
    assert checks.pair_failures([(a, b, s - 0.01)], exact, threshold)  # misreported similarity
    assert exact(0, 1) < threshold
    assert checks.pair_failures([(0, 1, exact(0, 1))], exact, threshold)  # under the threshold
    recall, base = checks.recall([(a, b) for a, b, _ in good[1:]], corpus.planted_doc_pairs, threshold)
    assert recall < 1.0 and base == len(good)


def test_pii_and_curation_checks(corpus):
    pii_docs = {d: (t, 0, 0, 0) for d, t in corpus.texts.items()}
    assert checks.pii_failures(pii_docs, corpus.pii_strings, corpus.pii_counts)  # nothing scrubbed

    clean = {}
    for d, t in corpus.texts.items():
        for s in corpus.pii_strings:
            t = t.replace(s, "<PII>")
        clean[d] = (t, 0, 0, 0)
    n_email, n_phone, n_ip = corpus.pii_counts
    clean[0] = (clean[0][0], n_email, n_phone, n_ip)
    assert checks.pii_failures(clean, corpus.pii_strings, corpus.pii_counts) == []
    clean[0] = (clean[0][0], n_email - 1, n_phone, n_ip)
    assert checks.pii_failures(clean, corpus.pii_strings, corpus.pii_counts)

    survivors = set(corpus.texts) - set(corpus.exact_copies)
    selected = sorted(survivors)
    assert checks.curated_failures(selected, survivors) == []
    assert checks.curated_failures([], survivors) == selected  # nothing curated
    copy, original = next(iter(corpus.exact_copies.items()))
    assert checks.curated_failures(selected + [copy], survivors) == [copy]
    assert checks.curated_failures([d for d in selected if d != original], survivors) == [original]
    assert checks.curated_failures(selected + [original], survivors) == [original]  # selected twice


# -- the metric printer --------------------------------------------------


def test_printer_emits_every_end_to_end_metric():
    measured = {name: 1.5 for name in run.END_TO_END_NAMES}
    out = run.with_units(measured, SPEC["end_to_end"])
    assert list(out) == [e["name"] for e in SPEC["end_to_end"]]
    assert all(v == {"value": 1.5, "unit": e["unit"]} for v, e in zip(out.values(), SPEC["end_to_end"]))
    with pytest.raises(KeyError):
        run.with_units({}, SPEC["end_to_end"])


def test_printer_emits_every_per_layer_metric():
    names = set(run.RUN_LAYER_NAMES).union(*(w.layer_names for w in WORKLOADS.values()))
    assert names == {e["name"] for e in SPEC["per_layer"]}
    for w in WORKLOADS.values():
        measured = {name: 2.0 for name in run.RUN_LAYER_NAMES + w.layer_names}
        out = run.with_units(measured, SPEC["per_layer"], absent=0.0)
        assert list(out) == [e["name"] for e in SPEC["per_layer"]]


def test_tracer_filters_operations_and_times_its_overhead():
    tracer = spans.Tracer(True)
    for op in (0, 1):
        tracer.op = op
        for _ in range(2):
            with tracer.span("layer"):
                pass
    with tracer.bookkeeping():
        time.sleep(0.01)
    assert len(tracer.per_op("layer")) == 2
    assert len(tracer.per_op("layer", [1])) == 1
    spans_only, with_bookkeeping = tracer.overhead_s([0, 1])
    assert 0 < spans_only < 0.001
    assert with_bookkeeping >= 0.01


def test_spec_names_the_workloads():
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(WORKLOADS)


def test_refuses_to_run_without_the_package(tmp_path):
    root = os.path.dirname(HERE)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    cmd = [sys.executable, "perfbench/run.py", "--workload", "poll_dashboard", "--seed", "1", "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout == ""
