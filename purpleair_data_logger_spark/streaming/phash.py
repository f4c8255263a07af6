"""Streaming incremental MULTIMODAL near-dup dedup: every arriving
micro-batch of media rows is mined against the accumulated corpus's
persisted perceptual-hash artifacts — "is this image already in the
corpus?" as a continuous ingest question, completing the multimodal
rung of the dedup ladder (batch: `operators.multimodal.
phash_neardup_pairs` / `phash_against_index`; decision:
`multimodal_phash_dedup`) with the same streaming shape the text
ladder has in `streaming/neardup.py`.

Shape is identical to the text LSH ingest stream — the shared
`_run_ingest_dedup_stream` runner drives parquet-in → per-batch mine →
batch_id-tagged ``{out}/pairs`` + left-anti ``{out}/fresh`` sinks,
availableNow termination — with two multimodal simplifications:

* the base artifacts are `multimodal.phash_index` output (band index +
  packed-band signature table). Banding is per-row content hashing, so
  index APPEND is trivially ≡ rebuild (no frozen-df-order subtlety, no
  drift report needed — the prefix stream's `drift_check` guards a
  corpus-global ordering the phash index simply doesn't have);
* the decode step runs ONCE per arriving payload inside the batch's
  signature stage (the injectable thumbnailer seam); the base corpus
  is never re-decoded.

Maintenance options mirror the text stream (mutually exclusive):
``fold_every=K`` appends accumulated fresh signatures into the base
artifacts every K batches (re-applying the bucket cap so the growing
index never regrows an over-cap blank-image bucket silently);
``recent_window_batches=W`` mines a rolling W-batch index beside the
base so near-dup media arriving in different micro-batches inside the
horizon still pair, with state bounded by W x arrival rate. The
restart caveat from `streaming/neardup.py` applies unchanged:
``{out}/fresh`` is the durable record to fold batch-side between runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from purpleair_data_logger_spark.materialize import materialize_once
from purpleair_data_logger_spark.operators.multimodal import (
    PHASH_BANDS,
    PHASH_PIXELS,
    phash_against_index,
    phash_index,
    thumbnail_image,
)
from purpleair_data_logger_spark.streaming.neardup import (
    _check_maintenance_args,
    _run_ingest_dedup_stream,
)


def build_phash_artifacts(
    base_df: DataFrame,
    *,
    thumbnailer=thumbnail_image,
    n_pixels: int = PHASH_PIXELS,
    n_bands: int = PHASH_BANDS,
    max_bucket_size: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(band index, signature table) for the base media corpus,
    materialized eagerly so the stream never re-decodes or
    re-hashes the base per trigger. ``max_bucket_size`` caps the index
    ONCE here (the steady-state placement of the degenerate-bucket
    ceiling — see `phash_against_index`)."""
    index, sigs = phash_index(
        base_df, thumbnailer=thumbnailer, n_pixels=n_pixels, n_bands=n_bands
    )
    if max_bucket_size is not None:
        from purpleair_data_logger_spark.operators.dedup import (
            keep_buckets_within_cap,
        )

        index = keep_buckets_within_cap(
            index, max_bucket_size, keys=("band_idx", "band_val")
        )
    return materialize_once(index, eager=True), materialize_once(sigs, eager=True)


def run_incremental_phash_stream(
    spark,
    source_dir: str,
    base_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    *,
    thumbnailer=thumbnail_image,
    max_hamming: int = 6,
    n_pixels: int = PHASH_PIXELS,
    n_bands: int = PHASH_BANDS,
    max_files_per_trigger: int = 1,
    fold_every: int | None = None,
    recent_window_batches: int | None = None,
    max_base_bucket_size: int | None = None,
):
    """File-source streaming multimodal ingest dedup: parquet media
    rows (media_id, payload, media_type, ...) in → per-batch
    `phash_against_index` → pairs + fresh parquet out, availableNow
    termination. Returns the streaming query handle.

    Output pairs carry the runner's ingest-dedup column contract
    (new_doc_id, base_doc_id, hamming, batch_id) — new_doc_id /
    base_doc_id ARE media ids; the shared fresh anti-join keys on
    them, so the text and multimodal streams compose with the same
    downstream curation plumbing."""
    _check_maintenance_args(fold_every, recent_window_batches)
    base_index, base_sigs = build_phash_artifacts(
        base_df, thumbnailer=thumbnailer,
        n_pixels=n_pixels, n_bands=n_bands,
        max_bucket_size=max_base_bucket_size,
    )
    st: dict = {
        "index": base_index, "sigs": base_sigs, "pending": [],
        "recent_idx": None, "recent_sigs": None,
    }

    def _mine_side(batch_df, index, sigs):
        return phash_against_index(
            batch_df, index, sigs,
            thumbnailer=thumbnailer, max_hamming=max_hamming,
            n_pixels=n_pixels, n_bands=n_bands,
        ).select(
            F.col("new_media_id").alias("new_doc_id"),
            F.col("base_media_id").alias("base_doc_id"),
            "hamming",
        )

    def mine(batch_df: DataFrame) -> DataFrame:
        pairs = _mine_side(batch_df, st["index"], st["sigs"])
        if st["recent_idx"] is not None:
            pairs = pairs.unionByName(
                _mine_side(
                    batch_df,
                    st["recent_idx"].drop("_bid"),
                    st["recent_sigs"].drop("_bid"),
                )
            )
        return pairs

    def post_batch(fresh_df: DataFrame, batch_id: int) -> None:
        if fold_every is not None:
            # pend SIGNATURES, not payload rows: media payloads are
            # heavy and the fold only needs the ~40-byte/row artifacts
            pend_idx, pend_sigs = phash_index(
                fresh_df, thumbnailer=thumbnailer,
                n_pixels=n_pixels, n_bands=n_bands,
            )
            st["pending"].append(
                (
                    materialize_once(pend_idx, eager=True),
                    materialize_once(pend_sigs, eager=True),
                )
            )
            if len(st["pending"]) >= fold_every:
                add_idx, add_sigs = st["pending"][0]
                for i2, s2 in st["pending"][1:]:
                    add_idx = add_idx.unionByName(i2)
                    add_sigs = add_sigs.unionByName(s2)
                idx2 = st["index"].unionByName(add_idx)
                if max_base_bucket_size is not None:
                    from purpleair_data_logger_spark.operators.dedup import (  # noqa: PLC0415
                        keep_buckets_within_cap,
                    )

                    idx2 = keep_buckets_within_cap(
                        idx2, max_base_bucket_size,
                        keys=("band_idx", "band_val"),
                    )
                st["index"] = materialize_once(idx2, eager=True)
                st["sigs"] = materialize_once(
                    st["sigs"].unionByName(add_sigs), eager=True
                )
                st["pending"] = []
        if recent_window_batches is not None:
            add_idx, add_sigs = phash_index(
                materialize_once(fresh_df, eager=True),
                thumbnailer=thumbnailer,
                n_pixels=n_pixels, n_bands=n_bands,
            )
            add_idx = add_idx.withColumn("_bid", F.lit(batch_id))
            add_sigs = add_sigs.withColumn("_bid", F.lit(batch_id))
            keep = F.col("_bid") > F.lit(batch_id - recent_window_batches)
            if st["recent_idx"] is None:
                ri, rs = add_idx, add_sigs
            else:
                ri = st["recent_idx"].filter(keep).unionByName(add_idx)
                rs = st["recent_sigs"].filter(keep).unionByName(add_sigs)
            st["recent_idx"] = materialize_once(ri, eager=True)
            st["recent_sigs"] = materialize_once(rs, eager=True)

    post = post_batch if (fold_every or recent_window_batches) else None
    return _run_ingest_dedup_stream(
        spark, source_dir, out_dir, checkpoint_dir, mine,
        id_col="media_id", max_files_per_trigger=max_files_per_trigger,
        post_batch=post,
    )
