"""The benchmark's closed-loop workloads.

Each workload generates its inputs (`gen`), builds what its operations
need during set-up, and then serves one operation at a time from one
client thread: the next operation starts when the previous one has
returned. Every timed result is materialised in full (``collect()``
for small results, the ``noop`` sink otherwise; never ``count()``,
which lets Catalyst prune the work away) and checked against the
generator's ground truth outside the timed window.

Spans name the layer the benchmark calls into: ``sources``,
``transforms``, ``tables``, ``dashboard``, ``pii``, ``text``,
``dedup`` and ``similarity`` are the package's modules of those names.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import gen
from spans import SparkWork, Tracer, Work, store_files

from purpleair_data_logger_spark import dashboard
from purpleair_data_logger_spark import schema as S
from purpleair_data_logger_spark.operators import dedup, pii, similarity, text, transforms
from purpleair_data_logger_spark.sinks.tables import SensorTableStore

_UNIT_DIV = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}


def _epochs(col: pa.ChunkedArray) -> list[int]:
    """Timestamp column read back from parquet -> epoch seconds."""
    ints = col.cast(pa.int64()).to_numpy()
    return (ints // _UNIT_DIV[col.type.unit]).tolist()


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _work_metrics(prefix: str, unit: str, work: dict[int, Work]) -> dict[str, float]:
    """Median Spark jobs and tasks per traced operation."""
    return {
        f"{prefix}.jobs_per_{unit}": _median([w.jobs for w in work.values()]),
        f"{prefix}.tasks_per_{unit}": _median([w.tasks for w in work.values()]),
    }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """What the runner drives. ``op`` is the only timed call."""

    name = ""
    #: the per-layer metrics `layer_metrics` returns
    layer_names: tuple[str, ...] = ()
    #: a traced run times at least this many operations
    traced_ops = 1

    def __init__(self, spark, work_dir: str, tracer: Tracer, counter: SparkWork | None, inputs):
        self.spark = spark
        self.work_dir = work_dir
        self.tracer = tracer
        #: counts Spark work in traced runs; None in untraced ones
        self.counter = counter
        self.inputs = inputs

    @staticmethod
    def generate(out_dir: str, seed: int, seconds: float):
        """Write the inputs of ``seed`` for a run of ``seconds`` under
        ``out_dir``; returns them with their ground truth."""
        raise NotImplementedError

    def build(self) -> None:
        """Set-up after the session starts, before the warm-up."""

    def warmup(self) -> list[str]:
        """Untimed operations before the clock starts; returns errors."""
        raise NotImplementedError

    def remaining(self, k: int) -> bool:
        """Whether the inputs hold a timed operation ``k``."""
        return True

    def op(self, k: int) -> int:
        """Run timed operation ``k``; returns the items of work it did."""
        raise NotImplementedError

    def verify(self, k: int) -> bool:
        """Check operation ``k``'s result (untimed)."""
        return True

    def observe(self, k: int) -> None:
        """Traced runs only: measurements outside the timed window."""

    def finish(self, ops: list[int]) -> tuple[set[int], list[str]]:
        """Post-run checks over the executed operations ``ops``:
        (failed operations, errors not tied to an operation)."""
        return set(), []

    def layer_metrics(self, work: dict[int, Work]) -> dict[str, float]:
        """Per-layer metrics of a traced run: ``work`` maps each timed
        operation to the Spark work it ran."""
        return {}


# ---------------------------------------------------------------------------


class PollDashboard(Workload):
    """One operation is one poll cycle: commit a poll payload (read it
    through the ``purpleair`` data source, cast to storage form, append
    to the nine tables with dedup against stored keys), then refresh the
    dashboard over the store, which holds a bulk backfill plus every
    poll so far: the sensor directory, four panels and one sensor-day
    reconstruction. Items are readings committed."""

    name = "poll_dashboard"
    layer_names = (
        "sources.load_s",
        "sources.read_s",
        "transforms.storage_form_s",
        "tables.append_s",
        "tables.backfill_s",
        "tables.jobs_per_poll",
        "tables.tasks_per_poll",
        "tables.files_per_poll",
        "tables.bytes_per_poll",
        "tables.landed_rows_per_input_row",
        "tables.store_bytes_per_input_byte",
        "tables.store_files",
        "dashboard.plan_s",
        "dashboard.exec_s",
        "dashboard.panel_p50_s",
        "tables.reconstruct_p50_s",
        "dashboard.directory_p50_s",
        "dashboard.jobs_per_query",
        "dashboard.tasks_per_query",
    )
    #: a fresh and a re-delivered cycle
    traced_ops = 2
    #: the shortest cycle the input sizing allows for
    MIN_OP_S = 2.0

    @staticmethod
    def generate(out_dir: str, seed: int, seconds: float):
        timed = max(PollDashboard.traced_ops, math.ceil(seconds / PollDashboard.MIN_OP_S))
        return gen.gen_poll_dashboard(out_dir, seed, n_ops=gen.WARMUP_OPS + timed)

    def build(self) -> None:
        self.root = os.path.join(self.work_dir, "store")
        self.store = SensorTableStore(self.spark, self.root)
        self.tracer.op = -1
        backfill = self.spark.read.parquet(self.inputs.backfill_path)
        with self.tracer.span("tables.backfill"):
            self.store.append_wide(transforms.cast_epoch_to_timestamp(backfill))
        self.files = store_files(self.root)
        #: per timed cycle: (files, bytes, station rows) its commit added
        self.appends: dict[int, tuple[int, int, int]] = {}
        #: per traced timed cycle: the Spark work of its commit
        self.commit_work: dict[int, Work] = {}
        self.results: dict[int, list[list]] = {}
        #: per traced timed cycle: seconds to read its payload alone
        self.read_s: dict[int, float] = {}

    def _load(self, i: int):
        path = self.inputs.payload_paths[self.inputs.schedule[i]]
        return self.spark.read.format("purpleair").option("fixture_path", path).load()

    def _query(self, q: gen.DashboardQuery) -> list:
        with self.tracer.span("dashboard.plan"):
            if q.kind == "panel":
                df = dashboard.panel(
                    self.store,
                    q.panel,
                    sensor_index=q.sensor_index,
                    start_epoch=q.start,
                    end_epoch=q.end,
                    interval_seconds=q.interval,
                )
            elif q.kind == "reconstruct":
                ts = F.col("data_time_stamp")
                df = self.store.reconstruct_reading().filter(
                    (F.col("sensor_index") == q.sensor_index)
                    & (ts >= F.timestamp_seconds(F.lit(q.start)))
                    & (ts < F.timestamp_seconds(F.lit(q.end)))
                )
            else:
                df = dashboard.directory(self.store)
        with self.tracer.span("dashboard.exec"):
            return df.collect()

    def _cycle(self, i: int) -> int:
        with self.tracer.span("sources.load"):
            df = self._load(i)
        with self.tracer.span("transforms.storage_form"):
            wide = transforms.cast_epoch_to_timestamp(df)
        with self.tracer.span("tables.append"):
            self.store.append_wide(wide, dedup_against_existing=True)
        if self.tracer.enabled and self.counter:
            with self.tracer.bookkeeping():
                self.commit_work[i - gen.WARMUP_OPS] = self.counter.take()
        results = []
        for q in self.inputs.refreshes[i]:
            with self.tracer.span(f"query.{q.kind}"):
                results.append(self._query(q))
        self.results[i] = results
        return self._fresh_rows(i)

    def _fresh_rows(self, i: int) -> int:
        """Rows cycle ``i`` should land: all of a first delivery, none of
        a re-delivery."""
        if self.inputs.redelivered(i):
            return 0
        return len(self.inputs.payload_keys[self.inputs.schedule[i]])

    def _landed(self) -> tuple[int, int, int]:
        """(files, bytes, station rows) added since the previous call."""
        now = store_files(self.root)
        new = [p for p in now if p not in self.files]
        station = os.sep + S.STATION + os.sep
        rows = sum(pq.read_metadata(p).num_rows for p in new if station in p)
        self.files = now
        return len(new), sum(now[p] for p in new), rows

    def _check(self, i: int) -> bool:
        """The commit landed what it should and every query of the
        refresh returned the generator's answer."""
        landed = self._landed()
        if i >= gen.WARMUP_OPS:
            self.appends[i - gen.WARMUP_OPS] = landed
        ok = landed[2] == self._fresh_rows(i)
        for q, rows in zip(self.inputs.refreshes[i], self.results.pop(i)):
            if q.kind == "panel":
                ok &= checks.panel_ok([(int(r[0].timestamp()), *r[1:]) for r in rows], q.expected)
            elif q.kind == "reconstruct":
                ok &= checks.reconstruct_ok([int(r["data_time_stamp"].timestamp()) for r in rows], q.expected)
            else:
                ok &= checks.directory_ok([tuple(r) for r in rows], q.expected)
        return ok

    def warmup(self) -> list[str]:
        errors = []
        for i in range(gen.WARMUP_OPS):
            self._cycle(i)
            if not self._check(i):
                errors.append(f"warm-up cycle {i} returned a wrong result")
        return errors

    def remaining(self, k: int) -> bool:
        return gen.WARMUP_OPS + k < len(self.inputs.schedule)

    def op(self, k: int) -> int:
        return self._cycle(gen.WARMUP_OPS + k)

    def verify(self, k: int) -> bool:
        return self._check(gen.WARMUP_OPS + k)

    def observe(self, k: int) -> None:
        df = self._load(gen.WARMUP_OPS + k)
        t0 = time.perf_counter()
        _noop(df)
        self.read_s[k] = time.perf_counter() - t0

    def finish(self, ops: list[int]) -> tuple[set[int], list[str]]:
        ins = self.inputs
        w = gen.WARMUP_OPS
        table_keys = {}
        for t in S.TABLE_NAMES:
            tbl = pq.read_table(self.store.path(t), columns=S.KEY_COLUMNS)
            table_keys[t] = list(zip(_epochs(tbl.column("data_time_stamp")), tbl.column("sensor_index").to_pylist()))
        failed, errors = checks.poll_key_failures(
            ins.payload_keys, ins.schedule[: w + len(ops)], table_keys, base=ins.backfill_keys
        )
        return {op - w for op in failed if op >= w}, errors

    def layer_metrics(self, work: dict[int, Work]) -> dict[str, float]:
        ins = self.inputs
        w = gen.WARMUP_OPS
        # The commit layers are measured on first deliveries; the landed
        # rows ratio counts re-deliveries too, which should land nothing.
        fresh = [k for k in self.appends if not ins.redelivered(w + k)]
        payload_rows = sum(len(ins.payload_keys[ins.schedule[w + k]]) for k in self.appends)
        delivered = sum(ins.payload_bytes[ins.schedule[w + k]] for k in self.appends)
        queries = len(ins.refreshes[w])
        return {
            "sources.load_s": self.tracer.median("sources.load", fresh),
            "sources.read_s": _median([self.read_s[k] for k in fresh]),
            "transforms.storage_form_s": self.tracer.median("transforms.storage_form", fresh),
            "tables.append_s": self.tracer.median("tables.append", fresh),
            "tables.backfill_s": self.tracer.median("tables.backfill"),
            **_work_metrics("tables", "poll", {k: self.commit_work[k] for k in fresh}),
            "tables.files_per_poll": _median([self.appends[k][0] for k in fresh]),
            "tables.bytes_per_poll": _median([self.appends[k][1] for k in fresh]),
            "tables.landed_rows_per_input_row": sum(a[2] for a in self.appends.values()) / max(1, payload_rows),
            "tables.store_bytes_per_input_byte": sum(a[1] for a in self.appends.values()) / max(1, delivered),
            "tables.store_files": len(self.files),
            "dashboard.plan_s": _median(self.tracer.durations("dashboard.plan")),
            "dashboard.exec_s": _median(self.tracer.durations("dashboard.exec")),
            "dashboard.panel_p50_s": _median(self.tracer.durations("query.panel")),
            "tables.reconstruct_p50_s": _median(self.tracer.durations("query.reconstruct")),
            "dashboard.directory_p50_s": _median(self.tracer.durations("query.directory")),
            "dashboard.jobs_per_query": _median([r.jobs / queries for r in work.values()]),
            "dashboard.tasks_per_query": _median([r.tasks / queries for r in work.values()]),
        }


# ---------------------------------------------------------------------------


class CorpusCuration(Workload):
    """One operation is a full curation pass over the corpus: scrub PII,
    curate (quality + language gates, exact dedup, per-language
    selection), mine near-duplicate documents (MinHash LSH + exact
    Jaccard) and near-duplicate embeddings (hyperplane LSH + exact
    cosine). The scrubbed corpus is cached for the pass, so each later
    layer's span holds its own work only; the check reads it back from
    the cache after the pass. Curation keeps every document that passes
    its gates and exact dedup, so its selection is known exactly. Items
    are documents curated."""

    name = "corpus_curation"
    layer_names = (
        "pii.scrub_s",
        "text.curate_s",
        "dedup.neardup_s",
        "similarity.cosine_lsh_s",
        "dedup.lsh_candidates",
        "dedup.verified_pairs",
        "dedup.verify_yield",
        "dedup.neardup_recall",
        "dedup.planted_pairs",
        "similarity.cosine_recall",
        "similarity.planted_pairs",
        "curation.jobs_per_pass",
        "curation.tasks_per_pass",
    )
    JACCARD = 0.8
    COSINE = 0.9
    RECALL_FLOOR = 0.95

    @staticmethod
    def generate(out_dir: str, seed: int, seconds: float):
        return gen.gen_corpus_curation(out_dir, seed)

    def build(self) -> None:
        self.docs = self.spark.read.parquet(self.inputs.docs_path)
        self.emb = self.spark.read.parquet(self.inputs.embeddings_path)
        self.out: dict[int, tuple] = {}
        self.scrubbed: dict = {}
        self.recalls: dict[str, tuple[float, int]] = {}
        self.candidates: int | None = None
        self.verified = 0

    def _pass(self, i: int) -> int:
        with self.tracer.span("pii.scrub"):
            scrubbed = pii.scrub_pii(self.docs, "doc_id", "text").persist()
            _noop(scrubbed)
        # The check collects and unpersists it.
        self.scrubbed[i] = scrubbed
        with self.tracer.span("text.curate"):
            curated = text.curate(scrubbed, "doc_id", "clean_text", per_lang_k=len(self.inputs.texts)).collect()
        with self.tracer.span("dedup.neardup"):
            pairs = dedup.neardup_lsh_verified(scrubbed, "doc_id", "clean_text", threshold=self.JACCARD).collect()
        with self.tracer.span("similarity.cosine_lsh"):
            vpairs = similarity.cosine_neardup_lsh_verified(self.emb, "vec_id", "embedding", threshold=self.COSINE).collect()
        self.out[i] = (curated, pairs, vpairs)
        return len(self.inputs.texts)

    def warmup(self) -> list[str]:
        self._pass(-1)
        return [] if self._check(-1) else ["warm-up curation pass returned a wrong result"]

    def op(self, k: int) -> int:
        return self._pass(k)

    def _check(self, i: int) -> bool:
        ins = self.inputs
        curated, pairs, vpairs = self.out.pop(i)
        scrubbed = self.scrubbed.pop(i)
        rows = scrubbed.collect()
        scrubbed.unpersist()
        pii_errors = checks.pii_failures(
            {r["doc_id"]: (r["clean_text"], r["n_emails"], r["n_phones"], r["n_ipv4"]) for r in rows},
            ins.pii_strings,
            ins.pii_counts,
        )
        bad = checks.pair_failures(
            [(r["doc_id_a"], r["doc_id_b"], r["jaccard"]) for r in pairs],
            lambda a, b: gen.jaccard(ins.texts[a], ins.texts[b]),
            self.JACCARD,
        )
        bad += checks.pair_failures(
            [(r["vec_id_a"], r["vec_id_b"], r["cosine_sim"]) for r in vpairs],
            lambda a, b: gen.cosine(ins.vectors[a], ins.vectors[b]),
            self.COSINE,
        )
        bad += checks.curated_failures([r["doc_id"] for r in curated], set(ins.texts) - set(ins.exact_copies))
        self.recalls["dedup"] = checks.recall([(r[0], r[1]) for r in pairs], ins.planted_doc_pairs, self.JACCARD)
        self.recalls["similarity"] = checks.recall([(r[0], r[1]) for r in vpairs], ins.planted_vec_pairs, self.COSINE)
        self.verified = len(pairs)
        return not bad and not pii_errors and all(r >= self.RECALL_FLOOR for r, _ in self.recalls.values())

    def verify(self, k: int) -> bool:
        return self._check(k)

    def observe(self, k: int) -> None:
        if self.candidates is None:
            scrubbed = pii.scrub_pii(self.docs, "doc_id", "text")
            self.candidates = len(dedup.minhash_lsh_candidates(scrubbed, "doc_id", "clean_text").collect())

    def layer_metrics(self, work: dict[int, Work]) -> dict[str, float]:
        cands = self.candidates or 0
        recall, planted = self.recalls["dedup"]
        vrecall, vplanted = self.recalls["similarity"]
        return {
            "pii.scrub_s": self.tracer.median("pii.scrub"),
            "text.curate_s": self.tracer.median("text.curate"),
            "dedup.neardup_s": self.tracer.median("dedup.neardup"),
            "similarity.cosine_lsh_s": self.tracer.median("similarity.cosine_lsh"),
            "dedup.lsh_candidates": cands,
            "dedup.verified_pairs": self.verified,
            "dedup.verify_yield": self.verified / cands if cands else 0.0,
            "dedup.neardup_recall": recall,
            "dedup.planted_pairs": planted,
            "similarity.cosine_recall": vrecall,
            "similarity.planted_pairs": vplanted,
            **_work_metrics("curation", "pass", work),
        }


WORKLOADS = {w.name: w for w in (PollDashboard, CorpusCuration)}
