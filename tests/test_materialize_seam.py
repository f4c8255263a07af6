"""The materialize-once seam (r14, VERDICT r13 #3): every within-query
reuse point (LSH band indexes, candidate sets, prefix set tables, phash
signatures) goes through `materialize.materialize_once`, which defaults
to executor-memory localCheckpoint but swaps to reliable
``df.checkpoint()`` files under ``SPARK_GRAFT_CHECKPOINT_DIR`` — the
posture a cluster run needs so one lost executor does not kill a query
whose lineage was truncated."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from purpleair_data_logger_spark import materialize
from purpleair_data_logger_spark.operators import dedup as dd
from purpleair_data_logger_spark.operators import multimodal as mm
from purpleair_data_logger_spark.operators import similarity as sim


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different text with no overlap at all here"),
        (4, "the quick brown fox jumps over the lazy dog"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _collect_pairs(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_local_default_truncates_lineage(spark):
    out = materialize.materialize_once(_docs(spark))
    # lazy localCheckpoint: the stored-RDD scan (LogicalRDD) replaces
    # the upstream plan immediately, with no job run yet
    assert "LogicalRDD" in out._jdf.queryExecution().optimizedPlan().toString()


def _files_under(path):
    return sorted(
        os.path.join(root, name)
        for root, _dirs, files in os.walk(path)
        for name in files
    )


def test_reliable_checkpoint_dir_identical_results(spark, tmp_path, monkeypatch):
    """With the env var set, the seam must (a) actually write reliable
    checkpoint files and (b) leave every routed operator's output
    bit-identical to the local default."""
    docs = _docs(spark)
    base_pairs = _collect_pairs(
        dd.neardup_lsh_verified(docs, "doc_id", "text", threshold=0.8),
        ("doc_id_a", "doc_id_b", "jaccard"),
    )
    assert base_pairs  # fixture really exercises the band join + verify

    ckdir = str(tmp_path / "seam_ckpt")
    monkeypatch.setenv(materialize.CHECKPOINT_DIR_ENV, ckdir)
    # held until the files are listed: the session's cleaner deletes a
    # checkpoint's files once its frame is garbage-collected
    out = dd.neardup_lsh_verified(docs, "doc_id", "text", threshold=0.8)
    assert _collect_pairs(out, ("doc_id_a", "doc_id_b", "jaccard")) == base_pairs
    assert _files_under(ckdir), "reliable checkpoint produced no files"


def test_reliable_checkpoint_dir_survives_repointed_context(
    spark, tmp_path, monkeypatch
):
    """The configured dir wins over whatever the context was last
    pointed at: after a foreign ``setCheckpointDir(B)`` (or a context
    restart, which forgets the dir), the next checkpoint still lands
    under the configured A and writes nothing under B."""
    dir_a, dir_b = str(tmp_path / "a"), str(tmp_path / "b")
    monkeypatch.setenv(materialize.CHECKPOINT_DIR_ENV, dir_a)
    first = materialize.materialize_once(_docs(spark))
    first.collect()
    before = _files_under(dir_a)
    assert before
    spark.sparkContext.setCheckpointDir(dir_b)
    second = materialize.materialize_once(_docs(spark))
    assert sorted(second.collect()) == sorted(first.collect())
    assert len(_files_under(dir_a)) > len(before)
    assert not _files_under(dir_b)


def test_seam_covers_every_query_path_site():
    """No lineage truncation outside the seam: every module of the
    package must go through `materialize.materialize_once`, so
    SPARK_GRAFT_CHECKPOINT_DIR governs every site, batch and stream."""
    import pathlib

    pkg_dir = pathlib.Path(materialize.__file__).parent
    offenders = []
    for p in sorted(pkg_dir.rglob("*.py")):
        if p.name == "materialize.py" and p.parent == pkg_dir:
            continue
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if any(
                call in line
                for call in (".localCheckpoint(", ".checkpoint(", "setCheckpointDir(")
            ):
                offenders.append(f"{p.relative_to(pkg_dir)}:{i}")
    assert not offenders, offenders


def test_cosine_lsh_signature_table_materialized_once(spark):
    """r14 pin for `cosine_neardup_lsh_verified`: the signature table
    (vector + band array, one Arrow matmul pass over the spread scan)
    is materialized once — the final plan joins two scans of the
    stored rows (ExistingRDD) and contains NO Python stage (the Arrow
    matmul ran in the materialization job, not once per join side)."""
    vecs = spark.createDataFrame(
        [(i, [float(i % 7) + 0.01 * j for j in range(8)]) for i in range(20)]
        + [(100 + i, [float(i % 7) + 0.01 * j + 0.001 for j in range(8)]) for i in range(5)],
        ["vec_id", "embedding"],
    )
    out = sim.cosine_neardup_lsh_verified(
        vecs, "vec_id", "embedding", threshold=0.9, n_planes=16, bands=4, dim=8
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan      # both join sides scan stored rows
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "band_val" in plan          # candidates ride the band equi-join
    # near-identical planted rows verified at >= 0.9
    got = {(r["vec_id_a"], r["vec_id_b"]) for r in out.collect()}
    assert all(a < b for a, b in got)
    assert got  # the planted near-dups collide and verify


def test_phash_seam_results_unchanged(spark):
    media = mm.attach_binary_payload(
        _docs(spark).union(_docs(spark).select(F.col("doc_id") + 10, "text")),
        "doc_id",
        "text",
    )
    pairs = mm.phash_neardup_pairs(
        media, thumbnailer=mm.fake_thumbnailer, max_hamming=6
    )
    got = _collect_pairs(pairs, ("media_id_1", "media_id_2", "hamming"))
    # exact payload copies (1,4), (11,14), (1,14), (4,11), (1,11), (4,14)
    assert (1, 4, 0) in got and (11, 14, 0) in got
