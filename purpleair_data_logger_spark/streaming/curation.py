"""Streaming corpus curation: the LLM-pipeline curation stages applied
to a document STREAM — the shape of a continuously-ingesting crawl.

The per-document stages (PII scrub, quality features, language ID,
normalization) are stateless projections, so they attach to a
streaming DataFrame unchanged — the same whole-stage-codegen
expressions as batch, evaluated per micro-batch. The only stateful
stage is exact dedup, which becomes `dropDuplicatesWithinWatermark` on
the normalized-text digest: per-key state is bounded by the watermark
(a re-crawled page dedups against state for the horizon, then ages
out), which is the correct semantic for an unbounded crawl — global
forever-dedup over an infinite stream would need unbounded state; run
the batch `neardup_lsh_between` pass against the accumulated corpus
for that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from purpleair_data_logger_spark.materialize import materialize_once
from purpleair_data_logger_spark.operators import pii
from purpleair_data_logger_spark.operators import sampling as smp
from purpleair_data_logger_spark.operators import text as tx


def curate_stream(
    stream_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    ts_col: str | None = None,
    dedup_within: str | None = None,
) -> DataFrame:
    """Attach the stateless curation stages to a document stream and
    (optionally) watermark-bounded exact dedup on normalized content.

    Output columns: id, ts (if given), clean_text (PII-scrubbed),
    n_tokens, predicted_lang, lang_score, normalized_md5.
    """
    pred, score = tx.language_vote(text_col)
    cols = [F.col(id_col)]
    if ts_col is not None:
        # Watermarks reject TIMESTAMP_NTZ; naive parquet micros arrive
        # as NTZ, so normalize event time to session-zoned TIMESTAMP.
        cols.append(F.col(ts_col).cast("timestamp").alias(ts_col))
    out = stream_df.select(
        *cols,
        pii.scrub_text(text_col).alias("clean_text"),
        tx.whitespace_token_count(text_col).alias("n_tokens"),
        pred.alias("predicted_lang"),
        score.alias("lang_score"),
        F.md5(tx.normalized_text(text_col)).alias("normalized_md5"),
    )
    if dedup_within is not None:
        if ts_col is None:
            raise ValueError("dedup_within requires ts_col for the watermark")
        out = out.withWatermark(ts_col, dedup_within).dropDuplicatesWithinWatermark(
            ["normalized_md5"]
        )
    return out


#: default split mix, matching the batch `leakage_safe_split` gate query.
DEFAULT_SPLITS: list[tuple[str, int]] = [("train", 9000), ("val", 500), ("test", 500)]


def curate_split_stream(
    stream_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    cluster_assignments: DataFrame | None = None,
    splits: list[tuple[str, int]] | None = None,
    ts_col: str | None = None,
    dedup_within: str | None = None,
) -> DataFrame:
    """Streaming curation composed with LEAKAGE-SAFE split assignment —
    the same final stage the batch ``corpus_build_final`` runs, on a
    continuously-ingesting stream.

    ``cluster_assignments`` is the batch-built near-dup cluster table
    (doc_id, cluster_id) — the persisted artifact of
    `clusters.cluster_dedup` over the accumulated corpus. Each
    micro-batch stream-static-joins against it (stateless, broadcast —
    the same plan as `enrich.enrich_stream`), and the split bucket is
    drawn from the CLUSTER hash, so every member of a known duplicate
    cluster lands in the same split as its batch-corpus siblings: new
    crawl copies of a training document can never leak into test.
    Documents not in any known cluster fall back to their own id — the
    draw `assign_split` would make batch-side for a singleton, so
    streaming and batch assignments agree exactly (pinned in tests).
    Pass ``cluster_assignments=None`` for plain doc-id splits (the
    `train_val_test_split` semantic, no leakage guarantee).

    Iterative cluster RESOLUTION itself stays batch-side by design:
    connected components needs multiple passes over the full edge set;
    the streaming surface consumes its artifact, exactly as an
    incremental ingest consumes the persisted LSH band index
    (`neardup_lsh_between`).
    """
    out = curate_stream(
        stream_df, id_col, text_col, ts_col=ts_col, dedup_within=dedup_within
    )
    if cluster_assignments is not None:
        dim = F.broadcast(
            cluster_assignments.select(
                F.col(id_col), F.col("cluster_id").cast("long").alias("cluster_id")
            )
        )
        out = out.join(dim, on=id_col, how="left")
        out = out.withColumn(
            "split_key", F.coalesce(F.col("cluster_id"), F.col(id_col))
        )
    else:
        out = out.withColumn("cluster_id", F.col(id_col)).withColumn(
            "split_key", F.col(id_col)
        )
    return smp.assign_split(
        out, "split_key", splits if splits is not None else DEFAULT_SPLITS
    ).drop("split_key")


def run_corpus_build_stream(
    spark,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    cluster_assignments: DataFrame | None = None,
    benchmark_df: DataFrame | None = None,
    vocabulary_df: DataFrame | None = None,
    contamination_ngram: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ingest_ts",
    dedup_within: str = "1 hour",
    pack_budget: int = 4096,
    pack_shards: int = 8,
    max_files_per_trigger: int = 1,
):
    """End-to-end streaming corpus build: curate → decontaminate →
    leakage-safe split → per-micro-batch encode + sequence packing —
    the streaming mirror of the batch ``corpus_build_final``
    composition.

    ``vocabulary_df``: the batch-built (vocab_rank, tok) artifact
    (`text.vocabulary` over the accumulated corpus). When given, every
    micro-batch's train split is tokenize-and-numericalized against
    this FROZEN id space (`text.encode_with_vocabulary` with
    ``vocab=``) — ids stay stable across arrivals, which is the
    property a trainer consuming the stream requires; re-deriving a
    vocab per batch would re-number tokens batch to batch. Encoded
    rows land in ``{out}/encoded`` tagged with ``batch_id``.

    Packing runs inside ``foreachBatch``: `packing.pack_sequences` is a
    per-shard cumsum (unsupported directly on a stream), and the
    micro-batch is the natural packing unit for continuous ingestion —
    each arrival chunk packs into its own sequence space, tagged with
    ``batch_id`` so (batch_id, shard, seq_in_shard) is globally unique
    without any cross-batch state. Curated rows land in
    ``{out}/curated`` (all splits, with cluster + split columns);
    train-split packing assignments land in ``{out}/packed``.

    ``benchmark_df``: eval-benchmark documents whose distinct n-grams
    (computed ONCE at stream start — eval suites are KBs–MBs, the
    classic broadcast side) decontaminate every micro-batch: documents
    sharing any ``contamination_ngram``-gram land in
    ``{out}/contaminated`` for audit and are removed from the curated
    corpus, exactly as ``corpus_build_final`` removes them batch-side.
    The overlap check runs on the PII-scrubbed text (that is the text
    being trained on).
    """
    schema = spark.read.parquet(source_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    curated = curate_split_stream(
        stream,
        id_col,
        text_col,
        cluster_assignments=cluster_assignments,
        ts_col=ts_col,
        dedup_within=dedup_within,
    )

    from purpleair_data_logger_spark.operators.dedup import shingles
    from purpleair_data_logger_spark.operators.packing import pack_sequences

    if vocabulary_df is not None:
        # materialize the frozen id space once — not per micro-batch
        vocabulary_df = materialize_once(
            vocabulary_df.select("vocab_rank", "tok"), eager=True
        )

    bench_grams = None
    if benchmark_df is not None:
        bench_grams = materialize_once(
            benchmark_df.select(
                F.explode(shingles(text_col, contamination_ngram)).alias("_ng")
            ).distinct(),
            eager=True,
        )

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # curate once, feed all sinks
        batch_df = materialize_once(batch_df, eager=True)
        if bench_grams is not None:
            hits = materialize_once(
                batch_df.select(
                    id_col,
                    F.explode(
                        shingles("clean_text", contamination_ngram)
                    ).alias("_ng"),
                )
                .join(F.broadcast(bench_grams), on="_ng")
                .select(id_col)
                .distinct(),
                eager=True,
            )
            batch_df.join(hits, on=id_col, how="inner").write.mode(
                "append"
            ).parquet(f"{out_dir}/contaminated")
            batch_df = batch_df.join(hits, on=id_col, how="left_anti")
        batch_df.write.mode("append").parquet(f"{out_dir}/curated")
        train = batch_df.filter(F.col("split") == "train")
        if vocabulary_df is not None:
            encoded = tx.encode_with_vocabulary(
                train, id_col, "clean_text", vocab=vocabulary_df
            ).withColumn("batch_id", F.lit(batch_id))
            encoded.write.mode("append").parquet(f"{out_dir}/encoded")
        packed = pack_sequences(
            train,
            id_col,
            "n_tokens",
            budget=pack_budget,
            n_shards=pack_shards,
        ).withColumn("batch_id", F.lit(batch_id))
        packed.write.mode("append").parquet(f"{out_dir}/packed")

    return (
        curated.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_curation_stream(
    spark,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ingest_ts",
    dedup_within: str = "1 hour",
    max_files_per_trigger: int = 1,
):
    """File-source streaming curation job: parquet-in → curate →
    parquet-out, one micro-batch per input file by default (true
    cross-batch dedup state), availableNow termination."""
    schema = spark.read.parquet(source_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    curated = curate_stream(
        stream, id_col, text_col, ts_col=ts_col, dedup_within=dedup_within
    )
    return (
        curated.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
