"""Streaming incremental near-dup dedup: every arriving micro-batch is
mined against the accumulated corpus's persisted LSH artifacts — the
continuous form of the daily-ingest question "is this crawl already in
the corpus?".

Shape: the base corpus's band index and shingle table are computed
ONCE at stream start (they are `dedup.lsh_banded` / shingle-set
output — in production, persisted bucketed artifacts maintained by the
batch pipeline); each micro-batch then runs
`dedup.neardup_against_index` inside ``foreachBatch``: new-side
signatures + cross-side band equi-join + exact-Jaccard verify, all
candidate-bounded. No streaming state is held — the artifacts ARE the
state, owned batch-side, so a restart resumes from the checkpoint with
nothing to rebuild. Matched pairs land in ``{out}/pairs`` (tagged with
batch_id); documents with no base near-dup land in ``{out}/fresh`` —
the stream of genuinely-new content a continuous curation pipeline
forwards downstream.

Within-stream duplicates (doc A and near-dup A' arriving in different
micro-batches, neither in the base corpus) have two opt-in closers
(VERDICT r10 #4/#5); by default they stay out of scope (an unbounded
cross-batch near-dup index would be unbounded state):

* ``fold_every=K`` — the periodic-fold hook: every K micro-batches the
  accumulated FRESH docs are appended into the base artifacts
  (`dedup.prefix_index_append` / `dedup.lsh_index_append`), so the
  index tracks the growing corpus instead of going stale until a full
  rebuild. State = the corpus index itself (it grows with the corpus —
  that is the artifact's job, not streaming state); recall 1 is
  preserved because appends reuse the frozen base-df order. Watch
  `dedup.prefix_index_drift_report` for the rebuild trigger.
* ``recent_window_batches=W`` — the bounded within-stream option: a
  ROLLING index of the last W micro-batches' fresh docs, mined beside
  the base index each trigger and evicted by batch age, so A and A'
  arriving in different micro-batches inside the horizon are paired
  with state bounded by W × arrival rate (never corpus-sized). A pair
  straddling MORE than W batches is missed by construction — that is
  the bound's price; same-batch pairs remain upstream's exact-dedup
  job (`curation.curate_stream` dedup_within).

The two are mutually exclusive: folding already covers every earlier
batch, and running both would emit duplicate pairs for recent docs.

Restart caveat: both options' working state (the folded/rolling
artifacts) lives in the driver for ONE run — a checkpoint restart
resumes the source exactly-once but reverts the index to the base
artifacts, so pairs against pre-restart fresh docs are missed until
the batch pipeline folds them (`{out}/fresh` is the durable record to
fold from). The default availableNow posture makes a run one-shot, so
this only matters for long-lived triggers; a production deployment
folds `{out}/fresh` into the PERSISTED artifacts between runs, which
is exactly `dedup.prefix_index_append` / `dedup.lsh_index_append` on
the batch side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from purpleair_data_logger_spark.materialize import materialize_once
from purpleair_data_logger_spark.operators.dedup import (
    PrefixIndex,
    _prefix_sets,
    _prefix_table,
    build_prefix_index,
    lsh_banded,
    lsh_index_append,
    neardup_against_index,
    prefix_filter_against_index,
    prefix_index_append,
    shingles,
)


def _check_maintenance_args(fold_every, recent_window_batches) -> None:
    if fold_every is not None and recent_window_batches is not None:
        raise ValueError(
            "fold_every and recent_window_batches are mutually "
            "exclusive: folding already covers every earlier batch, "
            "and running both would emit duplicate pairs for docs in "
            "the recent window"
        )
    for name, v in (
        ("fold_every", fold_every),
        ("recent_window_batches", recent_window_batches),
    ):
        if v is not None and int(v) < 1:
            raise ValueError(f"{name} must be a positive integer, got {v}")


def build_base_artifacts(
    base_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """(band index, shingle table) for a base corpus, materialized
    eagerly (`materialize_once`) so the stream never recomputes them per
    trigger. Production equivalent: the bucketed parquet artifacts the batch
    pipeline maintains (tests/test_bucketed.py pins the zero-exchange
    join against the bucketed form)."""
    index = materialize_once(
        lsh_banded(
            base_df, id_col, text_col,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
            hash_family=hash_family,
        ).select(F.col(id_col).alias("base_doc_id"), "band_idx", "band_hash"),
        eager=True,
    )
    sh = materialize_once(
        base_df.select(
            F.col(id_col).alias("base_doc_id"),
            shingles(text_col, shingle_n).alias("_sh_b"),
        ),
        eager=True,
    )
    return index, sh


def run_incremental_neardup_stream(
    spark,
    source_dir: str,
    base_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
    max_files_per_trigger: int = 1,
    fold_every: int | None = None,
    recent_window_batches: int | None = None,
    max_base_bucket_size: int | None = None,
    skew_check: bool = False,
):
    """File-source streaming ingest dedup: parquet-in → per-batch
    `neardup_against_index` → pairs + fresh parquet-out, availableNow
    termination. Returns the streaming query handle.

    ``skew_check`` (opt-in; requires ``fold_every``) is the LSH form's
    staleness loop, symmetric to the prefix stream's ``drift_check``:
    after EVERY fold, `dedup.lsh_index_skew_report` over the
    just-folded index lands batch_id-tagged in ``{out}/skew`` — a
    boilerplate family accumulating across folds shows up as a growing
    ``max_bucket_size`` / ``candidate_pairs`` per band, the signal to
    enable ``max_base_bucket_size`` or run upstream exact dedup,
    BEFORE every subsequent ingest pays the quadratic bucket.

    ``fold_every`` / ``recent_window_batches``: the index-maintenance
    options from the module docstring (mutually exclusive). LSH band
    keys are content hashes, so both maintenance forms are append-
    exact (`dedup.lsh_index_append`: append ≡ rebuild row-for-row).

    ``max_base_bucket_size`` (off by default) applies the r12
    degenerate-bucket ceiling ONCE to the base index at stream start —
    a boilerplate base bucket of size B otherwise charges every
    matching new row B candidates on every trigger, forever
    (`dedup.keep_buckets_within_cap` recall contract). Folded appends
    re-apply the cap so the growing index never regrows an over-cap
    bucket silently."""
    _check_maintenance_args(fold_every, recent_window_batches)
    if skew_check and fold_every is None:
        raise ValueError(
            "skew_check requires fold_every: without folds the index "
            "is immutable and the skew report is a constant — run "
            "dedup.lsh_bucket_skew_report batch-side instead"
        )
    base_index, base_sh = build_base_artifacts(
        base_df, id_col, text_col,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        hash_family=hash_family,
    )
    if max_base_bucket_size is not None:
        from purpleair_data_logger_spark.operators.dedup import (
            keep_buckets_within_cap,
        )

        base_index = materialize_once(
            keep_buckets_within_cap(base_index, max_base_bucket_size),
            eager=True,
        )
    st: dict = {
        "index": base_index, "sh": base_sh, "pending": [],
        "recent_idx": None, "recent_sh": None,
    }

    def mine(batch_df: DataFrame) -> DataFrame:
        pairs = neardup_against_index(
            batch_df, st["index"], st["sh"], id_col, text_col,
            threshold=threshold, num_hashes=num_hashes, bands=bands,
            shingle_n=shingle_n, hash_family=hash_family,
        )
        if st["recent_idx"] is not None:
            pairs = pairs.unionByName(
                neardup_against_index(
                    batch_df,
                    st["recent_idx"].drop("_bid"),
                    st["recent_sh"].drop("_bid"),
                    id_col, text_col,
                    threshold=threshold, num_hashes=num_hashes,
                    bands=bands, shingle_n=shingle_n,
                    hash_family=hash_family,
                )
            )
        return pairs

    def _fresh_rows(fresh_df: DataFrame) -> tuple[DataFrame, DataFrame]:
        idx = lsh_banded(
            fresh_df, id_col, text_col,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
            hash_family=hash_family,
        ).select(F.col(id_col).alias("base_doc_id"), "band_idx", "band_hash")
        sh = fresh_df.select(
            F.col(id_col).alias("base_doc_id"),
            shingles(text_col, shingle_n).alias("_sh_b"),
        )
        return idx, sh

    def post_batch(fresh_df: DataFrame, batch_id: int) -> None:
        if fold_every is not None:
            st["pending"].append(
                materialize_once(fresh_df.select(id_col, text_col), eager=True)
            )
            if len(st["pending"]) >= fold_every:
                add = st["pending"][0]
                for d in st["pending"][1:]:
                    add = add.unionByName(d)
                idx2, sh2 = lsh_index_append(
                    st["index"], st["sh"], add, id_col, text_col,
                    num_hashes=num_hashes, bands=bands,
                    shingle_n=shingle_n, hash_family=hash_family,
                )
                if max_base_bucket_size is not None:
                    from purpleair_data_logger_spark.operators.dedup import (  # noqa: PLC0415
                        keep_buckets_within_cap,
                    )

                    idx2 = keep_buckets_within_cap(
                        idx2, max_base_bucket_size
                    )
                st["index"] = materialize_once(idx2, eager=True)
                st["sh"] = materialize_once(sh2, eager=True)
                st["pending"] = []
                if skew_check:
                    from purpleair_data_logger_spark.operators.dedup import (  # noqa: PLC0415
                        lsh_index_skew_report,
                    )

                    lsh_index_skew_report(st["index"]).withColumn(
                        "batch_id", F.lit(batch_id)
                    ).write.mode("append").parquet(f"{out_dir}/skew")
        if recent_window_batches is not None:
            fresh_c = materialize_once(
                fresh_df.select(id_col, text_col), eager=True
            )
            add_idx, add_sh = _fresh_rows(fresh_c)
            add_idx = add_idx.withColumn("_bid", F.lit(batch_id))
            add_sh = add_sh.withColumn("_bid", F.lit(batch_id))
            keep = F.col("_bid") > F.lit(batch_id - recent_window_batches)
            if st["recent_idx"] is None:
                ri, rs = add_idx, add_sh
            else:
                ri = st["recent_idx"].filter(keep).unionByName(add_idx)
                rs = st["recent_sh"].filter(keep).unionByName(add_sh)
            st["recent_idx"] = materialize_once(ri, eager=True)
            st["recent_sh"] = materialize_once(rs, eager=True)

    post = post_batch if (fold_every or recent_window_batches) else None
    return _run_ingest_dedup_stream(
        spark, source_dir, out_dir, checkpoint_dir, mine,
        id_col=id_col, max_files_per_trigger=max_files_per_trigger,
        post_batch=post,
    )




def _run_ingest_dedup_stream(
    spark,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    mine,
    *,
    id_col: str,
    max_files_per_trigger: int,
    post_batch=None,
):
    """The shared ingest-dedup stream runner (code-review r10: the LSH
    and exact forms differ ONLY in the pairs-mining expression):
    parquet-in → per-batch ``mine(batch_df) -> (new_doc_id,
    base_doc_id, jaccard)`` → batch_id-tagged pairs sink + left-anti
    fresh sink, availableNow termination. ``post_batch(fresh_df,
    batch_id)`` (optional) runs after both sinks — the index
    fold / recent-window maintenance hook; it receives the batch's
    FRESH docs (near-dups of an indexed doc never re-enter any
    index)."""
    schema = spark.read.parquet(source_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    def _mine_batch(batch_df: DataFrame, batch_id: int) -> None:
        # one mining pass, two sinks
        batch_df = materialize_once(batch_df, eager=True)
        pairs = materialize_once(mine(batch_df), eager=True)
        pairs.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(f"{out_dir}/pairs")
        fresh = batch_df.join(
            pairs.select("new_doc_id").distinct(),
            on=batch_df[id_col] == F.col("new_doc_id"),
            how="left_anti",
        )
        fresh.write.mode("append").parquet(f"{out_dir}/fresh")
        if post_batch is not None:
            post_batch(fresh, batch_id)

    return (
        stream.writeStream.foreachBatch(_mine_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def build_prefix_artifacts(
    base_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold_pct: int = 80,
    shingle_n: int | None = 3,
) -> PrefixIndex:
    """The EXACT join's base `PrefixIndex`, materialized via
    `materialize_once` so the stream never recomputes it per trigger —
    sets and df table checkpoint FIRST, the prefix table derives from
    the checkpointed pair (one base scan + one df aggregate total,
    not one per artifact — code-review r10). Production equivalent:
    bucketed parquet maintained by the batch pipeline."""
    raw = build_prefix_index(
        base_df, id_col, text_col,
        threshold_pct=threshold_pct, shingle_n=shingle_n,
    )
    sets = materialize_once(raw.sets, eager=True)
    dft = materialize_once(raw.dft, eager=True)
    prefix = materialize_once(
        _prefix_table(sets, dft, raw.threshold_pct), eager=True
    )
    return PrefixIndex(
        dft, prefix, sets, raw.threshold_pct, raw.sep, raw.shingle_n
    )


def run_incremental_prefix_stream(
    spark,
    source_dir: str,
    base_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_pct: int = 80,
    shingle_n: int | None = 3,
    max_files_per_trigger: int = 1,
    fold_every: int | None = None,
    recent_window_batches: int | None = None,
    drift_check: bool = False,
    drift_growth_tolerance: float = 4.0,
):
    """The EXACT streaming ingest dedup — `run_incremental_neardup_
    stream` with provably-complete recall instead of LSH's
    probabilistic recall: per micro-batch,
    `dedup.prefix_filter_against_index` mines the batch against the
    frozen base `PrefixIndex` (only the new side pays prefix
    computation; tokenization/threshold come FROM the index, so they
    cannot mismatch). No streaming state by default — the artifacts
    ARE the state.

    ``fold_every`` / ``recent_window_batches``: the index-maintenance
    options from the module docstring (mutually exclusive). Both
    reuse the FROZEN base-df order (`dedup.prefix_index_append`), so
    recall stays exactly 1.

    ``drift_check`` (opt-in, VERDICT r11 #6; requires ``fold_every``)
    closes the loop between folding and staleness: after EVERY fold,
    `dedup.prefix_index_drift_report` runs over the just-folded index
    and its rows land batch_id-tagged in ``{out}/drift`` — so a
    long-running ingest stream SURFACES its frozen df order going
    stale (a post-freeze boilerplate token ranks "rarest" forever and
    its posting list grows without bound) at the next fold instead of
    never. Any ``needs_rebuild`` row in that sink is the operator
    signal to schedule a batch-side re-freeze; the stream itself keeps
    recall 1 regardless — drift costs candidate fan-out, not
    correctness, which is why surfacing (not auto-rebuilding, which
    would re-freeze ordering mid-stream) is the designed action."""
    _check_maintenance_args(fold_every, recent_window_batches)
    if drift_check and fold_every is None:
        raise ValueError(
            "drift_check requires fold_every: without folds the index "
            "is immutable and the drift report is a constant — run "
            "dedup.prefix_index_drift_report batch-side instead"
        )
    index = build_prefix_artifacts(
        base_df, id_col, text_col,
        threshold_pct=threshold_pct, shingle_n=shingle_n,
    )
    st: dict = {
        "index": index, "pending": [],
        "recent_sets": None, "recent_prefix": None,
    }

    def mine(batch_df: DataFrame) -> DataFrame:
        pairs = prefix_filter_against_index(
            batch_df, st["index"], id_col, text_col
        )
        if st["recent_sets"] is not None:
            idx = st["index"]
            recent_index = PrefixIndex(
                idx.dft,
                st["recent_prefix"].drop("_bid"),
                st["recent_sets"].drop("_bid"),
                idx.threshold_pct, idx.sep, idx.shingle_n,
            )
            pairs = pairs.unionByName(
                prefix_filter_against_index(
                    batch_df, recent_index, id_col, text_col
                )
            )
        return pairs

    def post_batch(fresh_df: DataFrame, batch_id: int) -> None:
        if fold_every is not None:
            st["pending"].append(
                materialize_once(fresh_df.select(id_col, text_col), eager=True)
            )
            if len(st["pending"]) >= fold_every:
                add = st["pending"][0]
                for d in st["pending"][1:]:
                    add = add.unionByName(d)
                folded = prefix_index_append(
                    st["index"], add, id_col, text_col
                )
                st["index"] = PrefixIndex(
                    folded.dft,
                    materialize_once(folded.prefix, eager=True),
                    materialize_once(folded.sets, eager=True),
                    folded.threshold_pct, folded.sep, folded.shingle_n,
                )
                st["pending"] = []
                if drift_check:
                    from purpleair_data_logger_spark.operators.dedup import (
                        prefix_index_drift_report,
                    )

                    prefix_index_drift_report(
                        st["index"],
                        growth_tolerance=drift_growth_tolerance,
                    ).withColumn("batch_id", F.lit(batch_id)).write.mode(
                        "append"
                    ).parquet(f"{out_dir}/drift")
        if recent_window_batches is not None:
            fresh_c = materialize_once(
                fresh_df.select(id_col, text_col), eager=True
            )
            idx = st["index"]
            nsets = _prefix_sets(
                fresh_c, id_col, text_col, idx.sep, idx.shingle_n
            )
            npref = _prefix_table(
                nsets, idx.dft, idx.threshold_pct, how="left"
            ).withColumn("_bid", F.lit(batch_id))
            nsets = nsets.withColumn("_bid", F.lit(batch_id))
            keep = F.col("_bid") > F.lit(batch_id - recent_window_batches)
            if st["recent_sets"] is None:
                rs, rp = nsets, npref
            else:
                rs = st["recent_sets"].filter(keep).unionByName(nsets)
                rp = st["recent_prefix"].filter(keep).unionByName(npref)
            st["recent_sets"] = materialize_once(rs, eager=True)
            st["recent_prefix"] = materialize_once(rp, eager=True)

    post = post_batch if (fold_every or recent_window_batches) else None
    return _run_ingest_dedup_stream(
        spark, source_dir, out_dir, checkpoint_dir, mine,
        id_col=id_col, max_files_per_trigger=max_files_per_trigger,
        post_batch=post,
    )
