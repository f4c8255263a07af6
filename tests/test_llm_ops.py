"""Cross-validation for the non-SQL-expressible (rows-only) operators:
LSH candidate generators are checked against exact ground truth computed
by DuckDB, multimodal decode against its deterministic fake."""

from __future__ import annotations

import os

import duckdb
import pytest

from pyspark.sql import functions as F

from purpleair_data_logger_spark.io import load_table
from purpleair_data_logger_spark.operators import dedup as dd
from purpleair_data_logger_spark.operators import multimodal as mm
from purpleair_data_logger_spark.operators import similarity as sim


def _docs_path(sf_dir):
    return os.path.join(sf_dir, "documents.parquet")


def _exact_shingle_jaccard_pairs(sf_dir, threshold):
    """Unblocked all-pairs 3-gram-shingle Jaccard ground truth (DuckDB),
    the same shingling `dedup.shingles` uses — so the truth set matches
    what MinHash estimates."""
    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
                   FROM read_parquet('{_docs_path(sf_dir)}')),
        s AS (SELECT doc_id, list_distinct(
                CASE WHEN len(toks) >= 3 THEN
                  list_transform(range(1, len(toks)-1),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                ELSE [array_to_string(toks, ' ')] END) AS sh
              FROM t)
        SELECT a.doc_id, b.doc_id
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh,b.sh)) * 1.0
              / len(list_distinct(list_concat(a.sh,b.sh))) >= {threshold}
        """
    ).fetchall()
    return {(a, b) for a, b in rows}


def test_minhash_lsh_recall(spark, sf_dir):
    """LSH candidates must recover (almost) all true near-dup pairs.

    With 64 hashes / 16 bands (r=4), a pair at shingle-J=0.8 shares a
    band with p = 1-(1-0.8^4)^16 ≈ 0.9997 — recall on J>=0.8 truth
    should be essentially total; allow 10% for hash luck.
    """
    truth = _exact_shingle_jaccard_pairs(sf_dir, 0.8)
    docs = load_table(spark, sf_dir, "documents")
    cands = dd.minhash_lsh_candidates(docs, "doc_id", "text")
    got = {(r["doc_id_a"], r["doc_id_b"]) for r in cands.collect()}
    if not truth:
        pytest.skip("no shingle-level near-dups at this sf")
    missed = truth - got
    assert len(missed) <= max(1, len(truth) // 10), (
        f"minhash missed {len(missed)}/{len(truth)} true near-dups: {sorted(missed)[:5]}"
    )


def test_neardup_lsh_verified_vs_allpairs_truth(spark, sf_dir):
    """The composed candidates→verify pipeline must agree with the
    unblocked all-pairs truth: every returned pair is a true near-dup
    (exact verify ⇒ precision 1.0 up to rounding) and recall ≥ 90%
    (banding at r=4/b=16 keeps miss probability ≈ 0 at J ≥ 0.8)."""
    truth = _exact_shingle_jaccard_pairs(sf_dir, 0.8)
    loose = _exact_shingle_jaccard_pairs(sf_dir, 0.7995)  # rounding margin
    docs = load_table(spark, sf_dir, "documents")
    got = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dd.neardup_lsh_verified(
            docs, "doc_id", "text", threshold=0.8
        ).collect()
    }
    assert got <= loose, f"false positives: {sorted(got - loose)[:5]}"
    if not truth:
        pytest.skip("no shingle-level near-dups at this sf")
    missed = truth - got
    assert len(missed) <= max(1, len(truth) // 10), (
        f"missed {len(missed)}/{len(truth)} true near-dups: {sorted(missed)[:5]}"
    )


def test_simhash_identical_text_collides(spark, sf_dir):
    """Exact duplicate text ⇒ identical simhash fingerprint (hamming 0),
    regardless of corpus statistics — checked by unioning a copied
    corpus slice under shifted ids."""
    docs = load_table(spark, sf_dir, "documents").limit(30)
    copies = docs.select((F.col("doc_id") + F.lit(100000)).alias("doc_id"), "text")
    both = docs.select("doc_id", "text").unionByName(copies)
    out = dd.simhash_neardup_candidates(both, "doc_id", "text")
    zero = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in out.filter(F.col("hamming_distance") == 0).collect()
    }
    for r in docs.collect():
        assert (r["doc_id"], r["doc_id"] + 100000) in zero


def test_knn_lsh_recall_vs_bruteforce(spark, sf_dir):
    """The ANN scale path must hold a recall floor against the exact
    baseline: with 3-bit bands × 12, a neighbor at cos ≈ 0.3 (bit
    agreement p ≈ 0.6) collides in some band with prob
    1-(1-0.6³)^12 ≈ 0.94, so ≥ 0.8 recall has real margin."""
    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 8)
    exact = sim.knn_bruteforce(em, queries, "vec_id", "embedding", k=5)
    approx = sim.knn_lsh(em, queries, "vec_id", "embedding", k=5, n_planes=36, bands=12)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e) == 40
    recall = len(e & a) / len(e)
    assert recall >= 0.8, f"knn_lsh recall {recall:.2f} < 0.8 (hit {len(e & a)}/{len(e)})"


def test_knn_ivf_recall_vs_bruteforce(spark, sf_dir):
    """The IVF scale path must hold the same recall floor: the
    embeddings carry real cluster structure (10 labels), so a 16-list
    quantizer probed at nprobe=4 keeps each query's true neighbors in
    the probed lists with high probability."""
    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 8)
    exact = sim.knn_bruteforce(em, queries, "vec_id", "embedding", k=5)
    approx = sim.knn_ivf(em, queries, "vec_id", "embedding", k=5, n_lists=16, nprobe=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e) == 40
    recall = len(e & a) / len(e)
    assert recall >= 0.8, f"knn_ivf recall {recall:.2f} < 0.8 (hit {len(e & a)}/{len(e)})"


def test_cosine_lsh_fetch_modes_identical_rows(spark, sf_dir):
    """r14: `fetch_vectors_by_id=True` (ids-only band join + candidate
    vector fetch — the at-scale form right of the measured crossover,
    see the operator docstring) must return EXACTLY the rows of the
    default vectors-ride form: same candidates by construction (same
    band signatures, same dedup keys) and the same verify arithmetic
    on the same double-cast vectors — also when some rows repeat
    an id, where the fetch must not multiply the repeated id's pairs."""
    em = load_table(spark, sf_dir, "embeddings")

    def run(df, ids_only: bool):
        return sorted(
            (r["vec_id_a"], r["vec_id_b"], r["cosine_sim"])
            for r in sim.cosine_neardup_lsh_verified(
                df, "vec_id", "embedding", threshold=0.4,
                n_planes=36, bands=12, fetch_vectors_by_id=ids_only,
            ).collect()
        )

    rows_default = run(em, False)
    assert rows_default  # the wide threshold yields real pairs
    assert run(em, True) == rows_default
    # repeat six ids that have pairs, so the repeats reach the fetch
    paired = sorted({i for a, b, _ in rows_default for i in (a, b)})
    em_dup = em.unionByName(em.filter(F.col("vec_id").isin(paired[:6])))
    # identical repeats add no pair: the default form returns
    # rows_default on em_dup as well
    assert run(em_dup, True) == rows_default


def test_cosine_neardup_lsh_verified_recall_and_precision(spark, sf_dir):
    """The embedding near-dup scale path: every returned pair must be a
    true ≥-threshold pair (exact verify ⇒ precision 1.0), and recall vs
    the exact pair set must hold. Mining at a wide threshold (0.4)
    needs narrow bands — 3 bits × 12 here: bit agreement p =
    1 − arccos(0.4)/π ≈ 0.63 ⇒ some-band collision prob ≈ 0.97 per
    pair (the 8-bit default bands are tuned for ≥ 0.9 near-dups and
    would recall only ~0.2 this far out)."""
    import numpy as np

    em = load_table(spark, sf_dir, "embeddings")
    got = {
        (r["vec_id_a"], r["vec_id_b"])
        for r in sim.cosine_neardup_lsh_verified(
            em, "vec_id", "embedding", threshold=0.4, n_planes=36, bands=12
        ).collect()
    }
    rows = em.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = Xn @ Xn.T
    iu = np.triu_indices(len(X), 1)
    exact = {
        tuple(sorted((int(ids[i]), int(ids[j]))))
        for i, j in zip(*iu)
        if S[i, j] >= 0.4
    }
    assert got <= exact  # precision 1.0: verify stage admits no false pair
    recall = len(got & exact) / len(exact)
    assert len(exact) >= 50
    assert recall >= 0.85, f"recall {recall:.2f} (hit {len(got & exact)}/{len(exact)})"


def test_cosine_neardup_lsh_finds_planted_near_dups(spark, sf_dir):
    """Planted near-duplicates (tiny deterministic perturbation, cosine
    ≥ 0.95) must all surface — the actual dedup use-case."""
    from pyspark.sql import Row

    em = load_table(spark, sf_dir, "embeddings").limit(50)
    rows = em.select("vec_id", "embedding").collect()
    planted = [
        Row(
            vec_id=r["vec_id"] + 100000,
            embedding=[x + 0.01 * ((i % 3) - 1) for i, x in enumerate(r["embedding"])],
        )
        for r in rows
    ]
    both = em.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(planted, schema=em.select("vec_id", "embedding").schema)
    )
    got = {
        (r["vec_id_a"], r["vec_id_b"])
        for r in sim.cosine_neardup_lsh_verified(
            both, "vec_id", "embedding", threshold=0.9
        ).collect()
    }
    for r in rows:
        assert (r["vec_id"], r["vec_id"] + 100000) in got


def test_multimodal_fake_decode_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = mm.attach_binary_payload(docs, "doc_id", "text")
    f1 = {r["media_id"]: r for r in mm.extract_features(media, decoder=mm.fake_decoder).collect()}
    f2 = {r["media_id"]: r for r in mm.extract_features(media, decoder=mm.fake_decoder).collect()}
    assert f1.keys() == f2.keys()
    for k in f1:
        assert f1[k]["features"] == f2[k]["features"]
        assert len(f1[k]["features"]) == 8
        assert 1 <= f1[k]["width"] <= 64


def test_multimodal_real_decoder_is_stubbed():
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"bytes", "image/png")


def test_metadata_matches_payload(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(10)
    media = mm.attach_binary_payload(docs, "doc_id", "text")
    meta = {r["media_id"]: r for r in mm.payload_metadata(media).collect()}
    for r in docs.collect():
        m = meta[r["doc_id"]]
        assert m["n_bytes"] == len(r["text"].encode("utf-8"))


def test_curate_semantics(spark):
    """Each curation gate acts as documented: length gate, repetition
    gate, language gate, normalized dedup (canonical = min id),
    stratified ranking."""
    from purpleair_data_logger_spark.operators import text as tx

    base = "the cat sat on a mat and looked out of the window to see birds " * 2
    docs = [
        (1, base, "en"),                                   # kept
        (2, base.upper().replace(" ", "  "), "en"),        # normalized dup of 1 -> dropped
        (3, "spam " * 40, "en"),                           # repetitive -> dropped (and und)
        (4, "the cat sat", "en"),                          # too short -> dropped
        (5, "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll kk jj ii hh gg", "zh"),  # no stopwords -> und -> dropped
        (6, base + "extra unique tail words here", "fr"),  # kept, own stratum
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text", "lang"])
    out = {
        (r["stratum"], r["doc_id"], r["sel_rank"])
        for r in tx.curate(df, "doc_id", "text", strat_col="lang").collect()
    }
    assert out == {("en", 1, 1), ("fr", 6, 1)}


def test_neardup_between_recovers_cross_split_truth(spark, sf_dir):
    """Incremental dedup must recover (almost) all true cross-side
    near-dup pairs — the same 64-hash/16-band recall argument as
    `test_minhash_lsh_recall`, restricted to pairs straddling the
    batch/corpus split."""
    truth = {
        frozenset(p)
        for p in _exact_shingle_jaccard_pairs(sf_dir, 0.8)
        if (p[0] % 10 == 0) != (p[1] % 10 == 0)
    }
    docs = load_table(spark, sf_dir, "documents")
    got = {
        frozenset((r["new_doc_id"], r["base_doc_id"]))
        for r in dd.neardup_lsh_between(
            docs.filter(F.col("doc_id") % 10 == 0),
            docs.filter(F.col("doc_id") % 10 != 0),
            "doc_id",
            "text",
            threshold=0.8,
        ).collect()
    }
    if not truth:
        pytest.skip("no cross-split near-dups at this sf")
    assert len(got & truth) >= 0.9 * len(truth)
    # verified pairs are exact — no false positives against the truth set
    assert got <= truth


def test_frame_sampling_shape_and_determinism(spark, sf_dir):
    """1:N frame explode: row counts follow the stride formula, offsets
    are in-bounds, and two runs are identical (no RNG, no partition
    dependence)."""
    docs = load_table(spark, sf_dir, "documents").limit(50)
    media = mm.attach_binary_payload(docs, "doc_id", "text")
    out = mm.sample_frames(
        media, frame_size=64, n_frames=4, frame_extractor=mm.fake_frame_extractor
    )
    rows = out.collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r)
    lens = {r["media_id"]: len(r["text"]) for r in docs.select(F.col("doc_id").alias("media_id"), "text").collect()}
    for mid, frames in by_id.items():
        n_avail = max(lens[mid] // 64, 1)
        assert len(frames) == min(4, n_avail)
        for fr in frames:
            assert 0 <= fr["frame_offset"] < max(lens[mid], 1)
    again = {(r["media_id"], r["frame_idx"], r["frame_md5"]) for r in out.collect()}
    assert again == {(r["media_id"], r["frame_idx"], r["frame_md5"]) for r in rows}


def test_resize_media_contract(spark, sf_dir):
    """Fake resize keeps the real resizer's contract: exact output
    byte size, deterministic in the payload, stub raises without an
    injected resizer."""
    docs = load_table(spark, sf_dir, "documents").limit(10)
    media = mm.attach_binary_payload(docs, "doc_id", "text")
    out = mm.resize_media(media, width=16, height=8, resizer=mm.fake_resizer).collect()
    assert len(out) == 10
    for r in out:
        assert (r["width"], r["height"]) == (16, 8)
        assert len(r["payload"]) == 16 * 8
    with pytest.raises(Exception, match="NotImplementedError|PIL"):
        mm.resize_media(media, width=4, height=4).collect()


def test_knn_filtered_respects_partition_and_fills_k(spark):
    """Filtered search must rank only within the query's label: vec 1's
    global nearest (vec 10, other label) is excluded, and the top-k
    fills from its own partition instead of under-filling."""
    from purpleair_data_logger_spark.operators import similarity as sim

    rows = [
        # label 0: query 1 plus two same-label neighbors at increasing angle
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.9, 0.1, 0.0], 0),
        (3, [0.0, 1.0, 0.0], 0),
        # label 1: nearly identical to query 1 but filtered out
        (10, [1.0, 0.01, 0.0], 1),
        (11, [0.5, 0.5, 0.0], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    got = (
        sim.knn_bruteforce_filtered(
            df, df.filter("vec_id = 1"), "vec_id", "embedding", "label", k=2
        )
        .orderBy("knn_rank")
        .collect()
    )
    assert [r["neighbor_id"] for r in got] == [2, 3]  # 10 excluded despite cos≈1
    assert all(r["label"] == 0 for r in got)
    assert [r["knn_rank"] for r in got] == [1, 2]


def test_knn_quantized_recall_vs_bruteforce(spark, sf_dir):
    """The SQ8 memory-scale path must hold a HIGHER recall floor than
    the bucketing paths: candidates come from a corpus-wide centered
    int8 dot (no bucketing loss, only quantization loss), so with 8×
    headroom the offline study measures recall ≈ 1.0; pin ≥ 0.9."""
    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 8)
    exact = sim.knn_bruteforce(em, queries, "vec_id", "embedding", k=5)
    approx = sim.knn_quantized_rescored(
        em, queries, "vec_id", "embedding", k=5, candidate_factor=8
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e) == 40
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"sq8 recall {recall:.2f} < 0.9 (hit {len(e & a)}/{len(e)})"


def test_knn_ivf_quantized_recall_vs_bruteforce(spark, sf_dir):
    """The composed IVF-SQ8 rung (VERDICT r5 #3) stacks two losses —
    bucketing (probe misses) and quantization (int8 candidate
    ordering) — so it inherits the bucketing paths' ≥ 0.8 floor, not
    flat SQ8's 0.9: with the same 16-list/4-probe geometry as knn_ivf
    and 8× candidate headroom, the quantization loss inside probed
    lists is negligible (SQ8 alone measures ≈ 1.0)."""
    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 8)
    exact = sim.knn_bruteforce(em, queries, "vec_id", "embedding", k=5)
    approx = sim.knn_ivf_quantized(
        em, queries, "vec_id", "embedding",
        k=5, n_lists=16, nprobe=4, candidate_factor=8,
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e) == 40
    recall = len(e & a) / len(e)
    assert recall >= 0.8, f"ivf-sq8 recall {recall:.2f} < 0.8 (hit {len(e & a)}/{len(e)})"


def test_ann_index_append_recall_and_rebuild_equivalence(spark, sf_dir):
    """Incremental index maintenance (VERDICT r6 #6). Two pins:

    1. append ≡ rebuild — under FROZEN centroids + calibration, the
       incrementally grown index holds EXACTLY the posting rows a full
       rebuild over (base ∪ new) produces (assignment and SQ8 encode
       are deterministic per row), so incremental and rebuilt indexes
       are interchangeable at any scale;
    2. recall-after-append ≥ 0.8 vs brute force on the GROWN corpus —
       appended vectors are first-class: probed, scored, returned.
    """
    em = load_table(spark, sf_dir, "embeddings").dropDuplicates(["vec_id"])
    base = em.filter(F.col("vec_id") % 10 != 0)
    new = em.filter(F.col("vec_id") % 10 == 0)
    centroids = sim.train_ivf_centroids(base, "embedding", n_lists=16)
    calibration = sim.quantization_calibration(base, "embedding")
    kw = dict(centroids=centroids, calibration=calibration)
    grown = sim.ann_index_append(
        sim.build_ivf_sq8_index(base, "vec_id", "embedding", **kw),
        new, "vec_id", "embedding", **kw,
    )
    rebuilt = sim.build_ivf_sq8_index(em, "vec_id", "embedding", **kw)

    def _rows(df):
        return {
            (r["neighbor_id"], r["list_id"], tuple(r["_cc"]))
            for r in df.collect()
        }

    assert _rows(grown) == _rows(rebuilt)

    queries = em.filter(F.col("vec_id") < 8)
    exact = sim.knn_bruteforce(em, queries, "vec_id", "embedding", k=5)
    approx = sim.knn_over_ivf_sq8_index(
        grown, em, queries, "vec_id", "embedding", k=5, nprobe=4, **kw
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e) == 40
    recall = len(e & a) / len(e)
    assert recall >= 0.8, f"recall-after-append {recall:.2f} < 0.8"
    # appended ids participate: brute force ranks some new vectors
    # into top-5 and the grown index must find them there too
    new_ids = {r["vec_id"] for r in new.select("vec_id").collect()}
    e_new = {p for p in e if p[1] in new_ids}
    assert e_new, "fixture assumption: some true neighbors are appended"
    assert len(e_new & a) / len(e_new) >= 0.8


def test_nearest_lists_exact_matches_matmul_assignment(spark, sf_dir):
    """VERDICT r11 #3: the oracled append gate row swaps the numpy-
    matmul assignment (`nearest_lists`, SIMD summation order is
    engine-private) for `nearest_lists_exact`'s ordered-fold cosine
    ranking. The two must produce identical posting rows on the
    embeddings fixture — same list assignments, same codes — for both
    trained and Forgy-seed centroids (only an exact cosine TIE between
    distinct centroids could split them, which real embeddings don't
    produce)."""
    em = load_table(spark, sf_dir, "embeddings").dropDuplicates(["vec_id"])
    base = em.filter(F.col("vec_id") % 10 != 0)
    calibration = sim.quantization_calibration(base, "embedding")
    seeds = (
        base.select("vec_id", sim.as_double_array("embedding").alias("_v"))
        .orderBy("vec_id")
        .limit(16)
        .collect()
    )
    for centroids in (
        [list(r["_v"]) for r in seeds],
        sim.train_ivf_centroids(base, "embedding", n_lists=16),
    ):
        kw = dict(centroids=centroids, calibration=calibration)

        def _rows(df):
            return {
                (r["neighbor_id"], r["list_id"], tuple(r["_cc"]))
                for r in df.collect()
            }

        fast = _rows(sim.build_ivf_sq8_index(em, "vec_id", "embedding", **kw))
        exact = _rows(
            sim.build_ivf_sq8_index(
                em, "vec_id", "embedding", exact_assign=True, **kw
            )
        )
        assert fast == exact


def test_calibration_drift_trigger(spark):
    """The re-encode trigger: in-range append batches stay quiet;
    a batch escaping the calibrated range by more than the tolerance
    flags exactly the drifted dimensions (SQ8 codes clamp there, so
    appending would silently flatten them)."""
    cal_mins, cal_spans = [0.0, -1.0, 5.0], [1.0, 2.0, 0.0]
    rows = [(1, [0.1, -0.9, 5.0]), (2, [0.9, 1.0, 5.0])]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    quiet = sim.calibration_drift(df, "v", cal_mins, cal_spans).collect()
    assert [r["needs_reencode"] for r in quiet] == [False, False, False]
    assert [r["drift_frac"] for r in quiet] == [0.0, 0.0, 0.0]

    # dim0 escapes above by 0.5 span; dim1 below by 0.25 span (under
    # the 0.3 tolerance); dim2 (degenerate span) deviates at all
    rows = [(1, [1.5, -1.5, 5.0]), (2, [0.2, 0.5, 5.25])]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    got = sim.calibration_drift(
        df, "v", cal_mins, cal_spans, tolerance=0.3
    ).collect()
    assert [r["needs_reencode"] for r in got] == [True, False, True]
    assert got[0]["drift_frac"] == pytest.approx(0.5)
    assert got[1]["drift_frac"] == pytest.approx(0.25)
    assert got[2]["drift_frac"] == 1.0


def test_quantize_int8_codes_bounds_and_roundtrip(spark, sf_dir):
    """Codes span [0, 255] with both extremes hit per non-degenerate
    dimension (min maps to 0, max to 255), and affine decode
    reconstructs every value within half a step (span/510)."""
    import numpy as np

    em = load_table(spark, sf_dir, "embeddings").limit(200)
    mins, spans = sim.quantization_calibration(em, "embedding")
    codes = sim.quantize_int8(em, "vec_id", "embedding", mins, spans)
    rows = codes.join(em.select("vec_id", "embedding"), "vec_id").collect()
    mn, sp = np.array(mins), np.array(spans)
    for r in rows:
        c = np.array(r["codes"])
        v = np.array(r["embedding"], dtype=np.float64)
        assert c.min() >= 0 and c.max() <= 255
        decoded = mn + c * sp / 255.0
        tol = np.where(sp > 0, sp / 510.0 + 1e-9, 1e-9)
        assert (np.abs(decoded - v) <= tol).all()
    all_codes = np.array([r["codes"] for r in rows])
    nondeg = sp > 0
    assert (all_codes[:, nondeg].min(axis=0) == 0).all()
    assert (all_codes[:, nondeg].max(axis=0) == 255).all()


def test_quantize_int8_clamps_out_of_calibration_vectors(spark):
    """Round-5 advisory: a query vector OUTSIDE the corpus calibration
    range must clamp to the documented [0, 255] code range, not spill
    past it and skew centered-dot candidate scores."""
    corpus = spark.createDataFrame(
        [(1, [0.0, 10.0]), (2, [1.0, 20.0])],
        "vec_id long, embedding array<double>",
    )
    mins, spans = sim.quantization_calibration(corpus, "embedding")
    assert mins == [0.0, 10.0] and spans == [1.0, 10.0]
    ood = spark.createDataFrame(
        [(9, [-5.0, 35.0]), (10, [0.5, 15.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r["codes"]
        for r in sim.quantize_int8(ood, "vec_id", "embedding", mins, spans)
        .collect()
    }
    assert got[9] == [0, 255]      # below-min -> 0, above-max -> 255
    assert got[10] == [128, 128]   # in-range unaffected by the clamp


def test_bm25_matches_reference_formula(spark):
    """operators/ranking.py: BM25 scores on a toy corpus must equal a
    pure-Python evaluation of the odds-idf formula bit-for-bit, the
    determinism-contract literals must hold (1.2+1.0 == 2.2,
    1.0-0.75 == 0.25), and ranking must prefer the doc that matches
    the rarer term."""
    from purpleair_data_logger_spark.operators import ranking as rk

    assert 1.2 + 1.0 == 2.2 and 1.0 - 0.75 == 0.25

    docs = spark.createDataFrame(
        [
            (1, "rare common common"),
            (2, "common common common"),
            (3, "common filler filler filler filler filler"),
            (4, None),          # NULL text: no observation
            (None, "common"),   # NULL id: no observation
        ],
        "doc_id long, text string",
    )
    terms = ["rare", "common"]
    got = {
        r["doc_id"]: (r["dl"], r["tf_total"], r["score"])
        for r in rk.bm25_scores(docs, "doc_id", "text", terms).collect()
    }
    # corpus stats over the 3 valid docs
    n, l = 3.0, float(3 + 3 + 6)
    df = {"rare": 1.0, "common": 3.0}
    tf = {1: {"rare": 1, "common": 2}, 2: {"common": 3}, 3: {"common": 1}}
    dl = {1: 3, 2: 3, 3: 6}

    def ref_score(d):
        s = 0.0
        for t in terms:
            tft = float(tf[d].get(t, 0))
            idf = (n - df[t] + 0.5) / (df[t] + 0.5)
            s = s + idf * (tft * 2.2) / (
                tft + 1.2 * (0.25 + 0.75 * float(dl[d]) * n / l)
            )
        return s

    assert set(got) == {1, 2, 3}
    for d in (1, 2, 3):
        assert got[d][0] == dl[d]
        assert got[d][1] == sum(tf[d].values())
        assert got[d][2] == ref_score(d)  # bit-exact, no tolerance
    top = rk.bm25_topk(docs, "doc_id", "text", terms, k=3).collect()
    assert [r["doc_id"] for r in sorted(top, key=lambda r: r["bm25_rank"])][0] == 1


def test_rrf_fusion_integer_exact(spark):
    """RRF: contributions are exact ⌊1e6/(60+r)⌋ BIGINTs, a missing
    rank contributes 0, and the fused ordering breaks ties on id."""
    from purpleair_data_logger_spark.operators import ranking as rk

    a = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "item_id long, rank_a int"
    )
    b = spark.createDataFrame(
        [(20, 1), (40, 2)], "item_id long, rank_b int"
    )
    got = {
        r["item_id"]: (r["rank_a"], r["rank_b"], r["rrf_scaled"], r["fused_rank"])
        for r in rk.rrf_fuse(a, b, "item_id", "rank_a", "rank_b", topk=10).collect()
    }
    c = lambda r: 1_000_000 // (60 + r)  # noqa: E731
    assert got[20] == (2, 1, c(2) + c(1), 1)
    assert got[10] == (1, None, c(1), 2)
    assert got[40] == (None, 2, c(2), 3)
    assert got[30] == (3, None, c(3), 4)


def test_retrieval_eval_counts_and_zero_hit_rows(spark):
    """ranking.retrieval_eval: exact hit counts, ⌊1e6/rank⌋ reciprocal
    rank of the ground truth's top-1, and a row for a query with ZERO
    candidate hits (silent index misses must surface)."""
    from purpleair_data_logger_spark.operators import ranking as rk

    gt = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (2, 20, 1), (2, 21, 2), (3, 30, 1)],
        "query_id long, neighbor_id long, knn_rank int",
    )
    cand = spark.createDataFrame(
        # q1: finds both, top1 at rank 2; q2: finds one (not top1);
        # q3: finds nothing relevant
        [(1, 11, 1), (1, 10, 2), (2, 21, 1), (2, 99, 2), (3, 98, 1)],
        "query_id long, neighbor_id long, knn_rank int",
    )
    got = {
        r["query_id"]: (r["n_hits"], r["recall_at_k"], r["rr_scaled"])
        for r in rk.retrieval_eval(
            gt, cand, "query_id", "neighbor_id", "knn_rank", k=2
        ).collect()
    }
    assert got[1] == (2, 1.0, 1_000_000 // 2)
    assert got[2] == (1, 0.5, 0)   # top1 (20) absent from candidates
    assert got[3] == (0, 0.0, 0)   # zero-hit query still emits a row


def test_temporal_split_boundary_semantics(spark):
    """sampling.temporal_split: embargo start is inclusive-embargo,
    cutoff is inclusive-test; without an embargo the cutoff splits
    train/test exactly."""
    import datetime as _dt

    from purpleair_data_logger_spark.operators.sampling import temporal_split

    rows = [
        (1, _dt.datetime(2024, 1, 22, 23, 59, 59)),
        (2, _dt.datetime(2024, 1, 23, 0, 0, 0)),
        (3, _dt.datetime(2024, 1, 24, 12, 0, 0)),
        (4, _dt.datetime(2024, 1, 25, 0, 0, 0)),
        (5, _dt.datetime(2024, 1, 26, 0, 0, 0)),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    got = {
        r["event_id"]: r["split"]
        for r in temporal_split(
            df, "ts", cutoff="2024-01-25", embargo="2024-01-23"
        ).collect()
    }
    assert got == {1: "train", 2: "embargo", 3: "embargo",
                   4: "test", 5: "test"}
    no_embargo = {
        r["event_id"]: r["split"]
        for r in temporal_split(df, "ts", cutoff="2024-01-25").collect()
    }
    assert no_embargo == {1: "train", 2: "train", 3: "train",
                          4: "test", 5: "test"}


def test_temporal_split_rejects_swapped_or_garbage_bounds(spark):
    """ADVICE r8: swapped/mistyped cutoff-embargo arguments used to
    SILENTLY label rows in [cutoff, embargo) as 'train' — the exact
    test-into-train leakage the operator exists to prevent. Now a
    driver-side guard raises before any row is labeled."""
    import datetime as _dt

    import pytest as _pytest

    from purpleair_data_logger_spark.operators.sampling import temporal_split

    df = spark.createDataFrame(
        [(1, _dt.datetime(2024, 1, 24))], "event_id long, ts timestamp"
    )
    # Swapped arguments: embargo AFTER cutoff.
    with _pytest.raises(ValueError, match="at or before cutoff"):
        temporal_split(df, "ts", cutoff="2024-01-23", embargo="2024-01-25")
    # Unparseable strings fail loudly, not via Spark's lenient cast.
    with _pytest.raises(ValueError, match="not an ISO-8601"):
        temporal_split(df, "ts", cutoff="not-a-date")
    with _pytest.raises(ValueError, match="not an ISO-8601"):
        temporal_split(df, "ts", cutoff="2024-01-25", embargo="01/23/2024")
    # embargo == cutoff degenerates to a plain cutoff split — allowed.
    assert (
        temporal_split(
            df, "ts", cutoff="2024-01-25", embargo="2024-01-25"
        ).collect()[0]["split"]
        == "train"
    )


def test_knn_pq_recall_vs_bruteforce(spark, sf_dir):
    """The PQ memory endpoint (8 one-byte codes per 64-dim vector)
    must hold the SQ8-tier recall floor: candidates come from a
    corpus-wide ADC scan — no bucketing loss, only quantization loss —
    and one-byte (256-centroid) per-subspace codebooks with 8x candidate headroom
    measure ≈ 1.0 on this corpus; pin >= 0.9."""
    from purpleair_data_logger_spark.operators import similarity as sim

    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 8)
    exact = sim.knn_bruteforce(em, queries, "vec_id", "embedding", k=5)
    approx = sim.knn_pq(
        em, queries, "vec_id", "embedding",
        k=5, n_sub=8, k_codes=256, candidate_factor=8,
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e) == 40
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"pq recall {recall:.2f} < 0.9 (hit {len(e & a)}/{len(e)})"


def test_pq_encode_deterministic_and_adc_identity(spark):
    """PQ internals: (1) codes are partitioning-invariant (argmin over
    deterministic codebooks); (2) the ADC lookup-table score equals
    the direct dot of the query with the DECODED (reconstructed)
    vector — the identity ADC exploits; (3) codes are n_sub ids each
    in [0, k_codes)."""
    import numpy as np

    from purpleair_data_logger_spark.operators import similarity as sim

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(64, 16)).round(3)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = sim.train_pq_codebooks(df, "embedding", n_sub=4, k_codes=8)
    enc = lambda d: {
        r["vec_id"]: list(r["codes"])
        for r in d.select(
            "vec_id", sim.pq_codes(F.col("embedding"), books).alias("codes")
        ).collect()
    }
    c1, c7 = enc(df.repartition(1)), enc(df.repartition(7))
    assert c1 == c7
    assert all(
        len(cs) == 4 and all(0 <= c < 8 for c in cs) for cs in c1.values()
    )
    # ADC identity on one query row vs numpy reconstruction. The LUT
    # (a pandas_udf output) must be PROJECTED before pq_adc_score uses
    # it inside lambdas — Spark rejects Python UDF calls lexically
    # inside higher-order functions (this mirrors knn_pq's shape).
    q = rows[0][1]
    qlut = spark.createDataFrame([(q,)], "qv array<double>").select(
        sim.pq_lut(F.col("qv"), books).alias("_lut")
    )
    got = {
        r["vec_id"]: r["s"]
        for r in df.select(
            "vec_id", sim.pq_codes(F.col("embedding"), books).alias("_codes")
        )
        .crossJoin(F.broadcast(qlut))
        .select(
            "vec_id",
            sim.pq_adc_score(F.col("_codes"), F.col("_lut")).alias("s"),
        )
        .collect()
    }
    b = np.asarray(books)
    qv = np.asarray(q)
    for vid, codes in c1.items():
        recon = np.concatenate([b[m][codes[m]] for m in range(4)])
        assert got[vid] == pytest.approx(float(qv @ recon), rel=1e-9)


def test_temporal_split_rejects_mixed_timezone_bounds(spark):
    """ADVICE-fix regression: tz-aware vs naive bound strings raised a
    bare TypeError from the datetime comparison; now a labeled
    ValueError fires before any comparison."""
    import datetime as _dt

    import pytest as _pytest

    from purpleair_data_logger_spark.operators.sampling import temporal_split

    df = spark.createDataFrame(
        [(1, _dt.datetime(2024, 1, 24))], "event_id long, ts timestamp"
    )
    with _pytest.raises(ValueError, match="mix timezone-aware and naive"):
        temporal_split(
            df, "ts", cutoff="2024-01-25", embargo="2024-01-23T00:00:00+00:00"
        )


def test_train_pq_codebooks_empty_corpus_raises(spark):
    import pytest as _pytest

    from purpleair_data_logger_spark.operators import similarity as sim

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="empty corpus"):
        sim.train_pq_codebooks(empty, "embedding", n_sub=4, k_codes=8)


def test_lsh_bucket_skew_report_flags_degenerate_bucket(spark):
    """r10: N identical docs collapse into one bucket per band — the
    report must show max_bucket_size = N and candidate_pairs =
    N(N-1)/2 in every band (the quadratic hazard made visible); a
    corpus of all-distinct docs shows zero colliding docs."""
    from purpleair_data_logger_spark.operators import dedup as dd

    n = 12
    boiler = [(i, "exactly the same boilerplate text here") for i in range(n)]
    distinct = [
        (100 + i, f"unique document number {i} with its own words {i * 7}")
        for i in range(5)
    ]
    df = spark.createDataFrame(boiler + distinct, "doc_id long, text string")
    rep = {
        r["band_idx"]: r
        for r in dd.lsh_bucket_skew_report(
            df, "doc_id", "text", num_hashes=16, bands=4, shingle_n=3
        ).collect()
    }
    assert sorted(rep) == [0, 1, 2, 3]
    for b, r in rep.items():
        assert r["max_bucket_size"] == n, (b, r)
        assert r["candidate_pairs"] >= n * (n - 1) // 2, (b, r)
        assert r["colliding_docs"] >= n, (b, r)
    clean = spark.createDataFrame(distinct, "doc_id long, text string")
    rep2 = dd.lsh_bucket_skew_report(
        clean, "doc_id", "text", num_hashes=16, bands=4, shingle_n=3
    ).collect()
    # 5 short distinct docs MAY band-collide by chance, but every
    # bucket stays tiny — the signal is max_bucket_size, not zero
    for r in rep2:
        assert r["max_bucket_size"] <= 2, r


def test_lsh_bucket_cap_bounds_planted_boilerplate_blowup(spark):
    """VERDICT r11 #1: the degenerate-bucket mitigation. A planted
    boilerplate family of N identical docs collapses into one bucket
    per band and would generate N(N-1)/2 candidate pairs per band at
    verify time; with ``max_bucket_size`` set, those buckets are
    dropped BEFORE the band self-join, bounding candidates, while a
    genuine near-dup pair in a small bucket survives.

    Recall contract under a cap (pinned here): a pair remains a
    candidate iff it still collides in at least one band whose bucket
    is within the cap — docs whose every collision is inside over-cap
    buckets (dense near-exact families, upstream exact-dedup's job)
    lose candidacy, and `lsh_capped_drop_report` accounts for exactly
    that drop per band."""
    from purpleair_data_logger_spark.operators import dedup as dd

    n = 12
    boiler = [(i, "exactly the same boilerplate text here") for i in range(n)]
    pair_a = (
        200,
        "the quick brown fox jumps over the lazy dog near the river "
        "bank while the evening sun sets slowly behind the old mill",
    )
    pair_b = (
        201,
        "the quick brown fox jumps over the lazy dog near the river "
        "bank while the evening sun sets slowly behind the old barn",
    )
    distinct = [
        (100 + i, f"unique document number {i} with its own words {i * 7}")
        for i in range(5)
    ]
    df = spark.createDataFrame(
        boiler + [pair_a, pair_b] + distinct, "doc_id long, text string"
    )
    kw = dict(num_hashes=16, bands=4, shingle_n=3)
    uncapped = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dd.minhash_lsh_candidates(df, "doc_id", "text", **kw).collect()
    }
    boiler_pairs = {(i, j) for i in range(n) for j in range(i + 1, n)}
    assert boiler_pairs <= uncapped  # the quadratic hazard is real
    assert (200, 201) in uncapped  # the genuine near-dup collides

    cap = 5
    capped = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dd.minhash_lsh_candidates(
            df, "doc_id", "text", max_bucket_size=cap, **kw
        ).collect()
    }
    assert capped <= uncapped  # the cap only ever removes candidates
    assert capped == uncapped - boiler_pairs  # exactly the family drops
    assert (200, 201) in capped  # small-bucket recall is untouched

    # the drop report quantifies the saving per band, and its
    # kept+dropped pair totals reconcile with the skew report's
    rep = {
        r["band_idx"]: r
        for r in dd.lsh_capped_drop_report(
            df, "doc_id", "text", max_bucket_size=cap, **kw
        ).collect()
    }
    skew = {
        r["band_idx"]: r
        for r in dd.lsh_bucket_skew_report(df, "doc_id", "text", **kw).collect()
    }
    assert sorted(rep) == [0, 1, 2, 3]
    for b, r in rep.items():
        assert r["buckets_over_cap"] == 1, (b, r)
        assert r["docs_dropped"] == n, (b, r)
        assert r["pairs_dropped"] == n * (n - 1) // 2, (b, r)
        assert (
            r["pairs_dropped"] + r["pairs_kept"]
            == skew[b]["candidate_pairs"]
        ), (b, r, skew[b])

    # the verified composition honors the cap end-to-end: boilerplate
    # pairs (jaccard 1.0) vanish, the genuine pair verifies through
    ver = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dd.neardup_lsh_verified(
            df, "doc_id", "text", threshold=0.7, max_bucket_size=cap, **kw
        ).collect()
    }
    assert ver == {(200, 201)}


def test_neardup_between_base_bucket_cap(spark):
    """The cross-side form of the degenerate-bucket ceiling: a
    boilerplate family in the BASE corpus charges every matching new
    row |family| candidates on every ingest. With
    ``max_base_bucket_size`` the over-cap base buckets are dropped
    before the cross-side join — the boilerplate match vanishes, a
    genuine small-bucket near-dup still verifies, and capped output is
    a subset of uncapped."""
    from purpleair_data_logger_spark.operators import dedup as dd

    boiler_text = "exactly the same boilerplate text here again"
    normal_text = (
        "the quick brown fox jumps over the lazy dog near the river "
        "bank while the evening sun sets slowly behind the old mill"
    )
    base = spark.createDataFrame(
        [(i, boiler_text) for i in range(12)] + [(50, normal_text)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (200, boiler_text),  # matches the degenerate family
            (201, normal_text.replace("mill", "barn")),  # genuine pair
        ],
        "doc_id long, text string",
    )
    kw = dict(threshold=0.7, num_hashes=16, bands=4, shingle_n=3)
    uncapped = {
        (r["new_doc_id"], r["base_doc_id"])
        for r in dd.neardup_lsh_between(new, base, "doc_id", "text", **kw).collect()
    }
    assert {(200, i) for i in range(12)} <= uncapped
    assert (201, 50) in uncapped
    capped = {
        (r["new_doc_id"], r["base_doc_id"])
        for r in dd.neardup_lsh_between(
            new, base, "doc_id", "text", max_base_bucket_size=5, **kw
        ).collect()
    }
    assert capped <= uncapped
    assert capped == {(201, 50)}  # the family is bounded out, recall intact


def test_cosine_lsh_bucket_cap_bounds_planted_family(spark):
    """The hyperplane-LSH analog of the bucket cap: a family of
    identical embeddings lands in one (band_idx, band_val) bucket per
    band; ``max_bucket_size`` drops those buckets before the band join
    while a genuine near-pair in a small bucket still verifies."""
    from purpleair_data_logger_spark.operators import similarity as sim

    dim = 8
    fam = [(i, [1.0, 0.5, -0.25, 0.125] + [0.0] * (dim - 4)) for i in range(10)]
    near_a = (200, [0.1, 0.9, 0.2, -0.3, 0.4, 0.0, 0.0, 0.0])
    near_b = (201, [0.1, 0.9, 0.21, -0.3, 0.4, 0.01, 0.0, 0.0])
    fillers = [
        (300 + i, [((i * 7 + j * 13) % 11 - 5) / 5.0 for j in range(dim)])
        for i in range(6)
    ]
    df = spark.createDataFrame(
        fam + [near_a, near_b] + fillers, "vec_id long, embedding array<double>"
    )
    kw = dict(threshold=0.9, n_planes=16, bands=4, dim=dim)
    uncapped = {
        (r["vec_id_a"], r["vec_id_b"])
        for r in sim.cosine_neardup_lsh_verified(
            df, "vec_id", "embedding", **kw
        ).collect()
    }
    fam_pairs = {(i, j) for i in range(10) for j in range(i + 1, 10)}
    assert fam_pairs <= uncapped
    assert (200, 201) in uncapped
    capped = {
        (r["vec_id_a"], r["vec_id_b"])
        for r in sim.cosine_neardup_lsh_verified(
            df, "vec_id", "embedding", max_bucket_size=4, **kw
        ).collect()
    }
    assert capped <= uncapped
    assert not (fam_pairs & capped)  # the degenerate family is bounded out
    assert (200, 201) in capped  # small-bucket recall intact


def test_corpus_overlap_minhash_estimates_true_jaccard(spark, sf_dir):
    """r10: the corpus-level MinHash agreement fraction must land
    within the Broder stderr envelope of the EXACT shingle-set Jaccard
    of the two halves (H=64 -> stderr ~ sqrt(J(1-J)/64) ~ 0.054 at
    J~0.25; allow 3 sigma), for both hash families; empty corpora give
    0 agreements, not a crash."""
    import math

    from pyspark.sql import functions as F

    from purpleair_data_logger_spark.io import load_table
    from purpleair_data_logger_spark.operators import dedup as dd

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    a = d.filter(F.col("doc_id") % 2 == 0)
    b = d.filter(F.col("doc_id") % 2 == 1)
    # exact shingle Jaccard, computed independently
    sh = lambda df: {
        r["s"]
        for r in df.select(
            F.explode(dd.shingles("text", 3)).alias("s")
        ).distinct().collect()
    }
    sa, sb = sh(a), sh(b)
    j = len(sa & sb) / len(sa | sb)
    sigma = math.sqrt(j * (1 - j) / 64)
    for fam in ("md5", "xxhash64"):
        row = dd.corpus_overlap_minhash(
            a, b, "text", num_hashes=64, shingle_n=3, hash_family=fam
        ).collect()[0]
        assert row["n_hashes"] == 64
        assert abs(row["jaccard_est"] - j) <= 3 * sigma + 1e-9, (
            fam, row["jaccard_est"], j, sigma,
        )
    # empty side: NULL minima count as non-agreements
    empty = spark.createDataFrame([], "doc_id long, text string")
    row = dd.corpus_overlap_minhash(empty, b, "text", num_hashes=8).collect()[0]
    assert row["n_agree"] == 0 and row["jaccard_est"] == 0.0


def test_prefix_filter_exact_equals_allpairs_truth(spark, sf_dir):
    """The prefix-filter join is EXACT: its output equals the unblocked
    all-pairs shingle-Jaccard truth set — recall 1 (the prefix-filter
    lemma) and precision 1 (the verify), the property the LSH path can
    only approach. Rounding margin on the precision side only, as in
    the LSH test."""
    truth = _exact_shingle_jaccard_pairs(sf_dir, 0.8)
    loose = _exact_shingle_jaccard_pairs(sf_dir, 0.7995)
    docs = load_table(spark, sf_dir, "documents")
    got = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dd.prefix_filter_neardups(
            docs, "doc_id", "text", threshold_pct=80, shingle_n=3
        ).collect()
    }
    assert got <= loose, f"false positives: {sorted(got - loose)[:5]}"
    assert truth <= got, f"MISSED true pairs: {sorted(truth - got)[:5]}"


def test_prefix_filter_is_superset_of_lsh_verified(spark, sf_dir):
    """Same measured quantity, complete candidates: whatever
    `neardup_lsh_verified` returns, the prefix-filter join must also
    return — the gap (if any) IS the LSH recall loss, made measurable."""
    docs = load_table(spark, sf_dir, "documents")
    lsh = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dd.neardup_lsh_verified(
            docs, "doc_id", "text", threshold=0.8
        ).collect()
    }
    exact = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dd.prefix_filter_neardups(
            docs, "doc_id", "text", threshold_pct=80, shingle_n=3
        ).collect()
    }
    assert lsh <= exact, f"LSH returned pairs the exact join missed: {sorted(lsh - exact)[:5]}"


def test_prefix_filter_word_mode_hand_corpus(spark):
    """Word-token mode on a hand corpus with known Jaccards: the pair
    at 4/5 = 0.8 passes at threshold 80, the pair at 3/5 = 0.6 passes
    only when the threshold drops to 60 — and size-filter pruning
    never costs a true pair."""
    rows = [
        (1, "a b c d e"),      # J(1,2) = 4/6... use crafted sets below
        (2, "a b c d f"),      # |∩|=4 |∪|=6 → 0.6667
        (3, "a b c d"),        # J(1,3)=4/5=0.8
        (4, "x y z"),          # unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got80 = {
        (r["doc_id_a"], r["doc_id_b"], r["jaccard"])
        for r in dd.prefix_filter_neardups(
            df, "doc_id", "text", threshold_pct=80
        ).collect()
    }
    assert got80 == {(1, 3, 0.8), (2, 3, 0.8)}
    got60 = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dd.prefix_filter_neardups(
            df, "doc_id", "text", threshold_pct=60
        ).collect()
    }
    assert got60 == {(1, 2), (1, 3), (2, 3)}  # J(2,3)=4/5 too


def test_prefix_filter_rejects_bad_threshold(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="threshold_pct"):
        dd.prefix_filter_neardups(df, "doc_id", "text", threshold_pct=0)


def _exact_cross_side_truth(sf_dir, threshold):
    """Unblocked cross-side (new = doc_id%10==0 vs base) 3-shingle
    Jaccard ground truth, brute-forced in DuckDB."""
    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
                   FROM read_parquet('{_docs_path(sf_dir)}')
                   WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        s AS (SELECT doc_id, list_distinct(
                CASE WHEN len(toks) >= 3 THEN
                  list_transform(range(1, len(toks)-1),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                ELSE [array_to_string(toks, ' ')] END) AS sh
              FROM t)
        SELECT a.doc_id, b.doc_id
        FROM s a JOIN s b ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
        WHERE len(list_intersect(a.sh,b.sh)) * 1.0
              / len(list_distinct(list_concat(a.sh,b.sh))) >= {threshold}
        """
    ).fetchall()
    return {(a, b) for a, b in rows}


def test_prefix_filter_between_equals_cross_side_truth(spark, sf_dir):
    """The incremental prefix-filter join is EXACT: equals the
    brute-force cross-side truth (recall 1 under the frozen base-df
    order, precision 1 from the verify)."""
    truth = _exact_cross_side_truth(sf_dir, 0.8)
    loose = _exact_cross_side_truth(sf_dir, 0.7995)
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    base = docs.filter(F.col("doc_id") % 10 != 0)
    got = {
        (r["new_doc_id"], r["base_doc_id"])
        for r in dd.prefix_filter_between(
            new, base, "doc_id", "text", threshold_pct=80, shingle_n=3
        ).collect()
    }
    assert got <= loose, f"false positives: {sorted(got - loose)[:5]}"
    assert truth <= got, f"MISSED cross-side pairs: {sorted(truth - got)[:5]}"


def test_prefix_filter_between_superset_of_lsh_between(spark, sf_dir):
    """Same split, same measured quantity: the LSH incremental path's
    verified pairs must all appear in the exact incremental join."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    base = docs.filter(F.col("doc_id") % 10 != 0)
    lsh = {
        (r["new_doc_id"], r["base_doc_id"])
        for r in dd.neardup_lsh_between(
            new, base, "doc_id", "text", threshold=0.8
        ).collect()
    }
    exact = {
        (r["new_doc_id"], r["base_doc_id"])
        for r in dd.prefix_filter_between(
            new, base, "doc_id", "text", threshold_pct=80, shingle_n=3
        ).collect()
    }
    assert lsh <= exact, f"LSH found pairs the exact join missed: {sorted(lsh - exact)[:5]}"


def test_edit_distance_boundary_band_pairs(spark):
    """VERDICT r10 #2 fixture: the length constraint is exact, not
    band-equality — lengths 63 vs 65 (band 64) straddle a band boundary
    and MUST pair, while an adjacent-band pair with |dlen| > band_chars
    MUST NOT survive the residual filter."""
    rows = [
        # b1: boundary-straddling near-identical pair (63 vs 65) -> pair
        (1, "a" * 63, "b1", 63),
        (2, "a" * 65, "b1", 65),
        # b2: adjacent bands (60 vs 127) but dlen 67 > 64 -> excluded
        (3, "c" * 60, "b2", 60),
        (4, "c" * 127, "b2", 127),
        # b3: same-band typo pair (diff inside the 48-char prefix)
        (5, "d" * 100, "b3", 100),
        (6, "e" + "d" * 99, "b3", 100),
        # b4: far bands, never candidates
        (7, "f" * 10, "b4", 10),
        (8, "f" * 300, "b4", 300),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string, lang string, n_chars int")
    got = {
        (r["id_a"], r["id_b"], r["edit_dist"])
        for r in dd.edit_distance_neardups(
            df, "doc_id", "text", block_cols=["lang"], len_col="n_chars"
        ).collect()
    }
    assert got == {(1, 2, 0), (5, 6, 1)}, got


def test_prefix_index_append_rebuild_pair_parity(spark, sf_dir):
    """VERDICT r10 #4: folding a batch into a PrefixIndex under the
    frozen base order yields the SAME verified pairs as a full rebuild
    over the grown corpus (both have recall 1 and an exact verify;
    only candidate counts may differ)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    query = docs.filter(F.col("doc_id") % 10 == 0)
    add = docs.filter(F.col("doc_id") % 10 == 1)
    base = docs.filter(F.col("doc_id") % 10 > 1)
    idx = dd.build_prefix_index(
        base, "doc_id", "text", threshold_pct=80, shingle_n=3
    )
    appended = dd.prefix_index_append(idx, add, "doc_id", "text")
    rebuilt = dd.build_prefix_index(
        base.unionByName(add), "doc_id", "text",
        threshold_pct=80, shingle_n=3,
    )
    got = {
        (r["new_doc_id"], r["base_doc_id"], r["jaccard"])
        for r in dd.prefix_filter_against_index(
            query, appended, "doc_id", "text"
        ).collect()
    }
    want = {
        (r["new_doc_id"], r["base_doc_id"], r["jaccard"])
        for r in dd.prefix_filter_against_index(
            query, rebuilt, "doc_id", "text"
        ).collect()
    }
    assert got == want and want  # fixture plants near-dups


def test_lsh_index_append_equals_rebuild(spark, sf_dir):
    """LSH band keys are content hashes — append must equal rebuild
    ROW-for-row (not just pair-for-pair), for both artifacts."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    add = docs.filter(F.col("doc_id") % 10 == 1)
    base = docs.filter(F.col("doc_id") % 10 > 1)

    def idx_rows(df):
        return {
            (r["base_doc_id"], r["band_idx"], r["band_hash"])
            for r in df.collect()
        }

    base_idx = dd.lsh_banded(base, "doc_id", "text").select(
        F.col("doc_id").alias("base_doc_id"), "band_idx", "band_hash"
    )
    base_sh = base.select(
        F.col("doc_id").alias("base_doc_id"),
        dd.shingles("text", 3).alias("_sh_b"),
    )
    app_idx, app_sh = dd.lsh_index_append(
        base_idx, base_sh, add, "doc_id", "text"
    )
    grown = base.unionByName(add)
    reb_idx = dd.lsh_banded(grown, "doc_id", "text").select(
        F.col("doc_id").alias("base_doc_id"), "band_idx", "band_hash"
    )
    assert idx_rows(app_idx) == idx_rows(reb_idx)
    sh_app = {
        r["base_doc_id"]: tuple(r["_sh_b"]) for r in app_sh.collect()
    }
    sh_reb = {
        r["base_doc_id"]: tuple(r["_sh_b"])
        for r in grown.select(
            F.col("doc_id").alias("base_doc_id"),
            dd.shingles("text", 3).alias("_sh_b"),
        ).collect()
    }
    assert sh_app == sh_reb


def test_prefix_index_drift_report_flags_new_boilerplate(spark):
    """The rebuild trigger: a boilerplate token that arrived AFTER the
    order froze ranks 'rarest' (df 0) and lands in every appended
    doc's prefix — the drift report must surface its posting list and
    flag needs_rebuild."""
    base = spark.createDataFrame(
        [(i, f"base{i}a base{i}b base{i}c") for i in range(1, 6)],
        "doc_id int, text string",
    )
    # word mode: 2 distinct words -> prefix length 1 = the rarest
    # element; 'aacommon' (frozen df 0) sorts before each zz-unique
    add = spark.createDataFrame(
        [(100 + i, f"aacommon zzunique{i}") for i in range(10)],
        "doc_id int, text string",
    )
    idx = dd.build_prefix_index(
        base, "doc_id", "text", threshold_pct=80, shingle_n=None
    )
    appended = dd.prefix_index_append(idx, add, "doc_id", "text")
    report = {
        r["tok"]: (r["frozen_dfc"], r["prefix_postings"], r["needs_rebuild"])
        for r in dd.prefix_index_drift_report(appended).collect()
    }
    frozen, postings, needs = report["aacommon"]
    assert frozen == 0 and postings == 10 and needs
    # the heaviest posting list leads the report
    top = dd.prefix_index_drift_report(appended).first()
    assert top["tok"] == "aacommon"
    # healthy base elements do not flag
    assert not any(
        v[2] for k, v in report.items() if k != "aacommon"
    )


def test_rerank_topk_matches_reference(spark):
    """rerank_topk over a hand corpus equals the independent Python
    computation: sha256 60-bit scores, per-query rank by (score desc,
    doc_id), k-cut, NULL texts/ids dropped."""
    import hashlib

    queries = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma"), (3, None), (None, "zeta")],
        "query_id long, qtext string",
    )
    docs = spark.createDataFrame(
        [(10, "alpha doc one"), (11, "alpha doc two"), (12, "beta text"),
         (13, None), (None, "orphan")],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (1, 13), (2, 10), (3, 10), (None, 11),
         (1, None)],
        "query_id long, doc_id long",
    )
    from purpleair_data_logger_spark.operators import ranking as rk

    got = {
        (r["query_id"], r["doc_id"]): (r["ce_score"], r["rerank"])
        for r in rk.rerank_topk(
            cand, queries, docs,
            query_id_col="query_id", doc_id_col="doc_id",
            query_text_col="qtext", doc_text_col="text",
            k=2, scorer=rk.fake_cross_scorer,
        ).collect()
    }

    def score(q, d):
        return int(
            hashlib.sha256((q + "\x1f" + d).encode()).hexdigest()[:15], 16
        )

    qt = {1: "alpha beta", 2: "gamma"}
    dt = {10: "alpha doc one", 11: "alpha doc two", 12: "beta text"}
    want = {}
    for qid in (1, 2):
        scored = sorted(
            (
                (-score(qt[qid], dt[did]), did)
                for q2, did in [(1, 10), (1, 11), (1, 12), (2, 10)]
                if q2 == qid
            ),
        )
        for rank, (neg, did) in enumerate(scored[:2], start=1):
            want[(qid, did)] = (-neg, rank)
    assert got == want
    # NULL-text doc 13, NULL ids, NULL-text query 3: all dropped
    assert all(k[0] in (1, 2) and k[1] in (10, 11, 12) for k in got)


def test_rerank_real_scorer_is_stubbed():
    from purpleair_data_logger_spark.operators import ranking as rk

    with pytest.raises(NotImplementedError, match="model runtime"):
        rk.cross_encode("q", "d")


def _py_phash(text: str, n_pixels: int = 64, n_bands: int = 8):
    """Reference signature: same arithmetic as `mm.perceptual_hash`,
    computed driver-side for brute-force truth."""
    px = mm.fake_thumbnailer(text.encode("utf-8"), "text/plain", n_pixels)
    tot = sum(px)
    bits = [1 if v * n_pixels >= tot else 0 for v in px]
    w = n_pixels // n_bands
    return [sum(bits[b * w + j] << j for j in range(w)) for b in range(n_bands)]


def _py_hamming(s1, s2):
    return sum(bin(a ^ b).count("1") for a, b in zip(s1, s2))


def test_phash_neardup_recall_contract_vs_bruteforce(spark):
    """Pigeonhole recall contract: with 8 bands, EVERY pair at Hamming
    distance <= 7 shares at least one exact band, so absent the bucket
    cap the banded candidates contain all such pairs — the operator's
    verified output at max_hamming=7 must EQUAL the brute-force
    all-pairs truth (ids and distances)."""
    base = [
        "the quick brown fox jumps over the lazy dog again and again",
        "pack my box with five dozen liquor jugs for the long trip",
        "sphinx of black quartz judge my vow before the winter ends",
        "how vexingly quick daft zebras jump over fences at midnight",
    ]
    docs = []
    for i, t in enumerate(base):
        docs.append((i * 10, t))
        docs.append((i * 10 + 1, t.replace("e", "3")))       # near
        docs.append((i * 10 + 2, t.replace("o", "0")))       # near
        docs.append((i * 10 + 3, t[::-1]))                   # far
    truth = {}
    for i, (ida, ta) in enumerate(docs):
        sa = _py_phash(ta)
        for idb, tb in docs[i + 1:]:
            h = _py_hamming(sa, _py_phash(tb))
            if h <= 7:
                truth[(min(ida, idb), max(ida, idb))] = h
    assert truth, "fixture must plant at least one near pair"
    media = mm.attach_binary_payload(
        spark.createDataFrame(docs, "doc_id long, text string"),
        "doc_id", "text",
    )
    got = {
        (r["media_id_1"], r["media_id_2"]): r["hamming"]
        for r in mm.phash_neardup_pairs(
            media, thumbnailer=mm.fake_thumbnailer, max_hamming=7
        ).collect()
    }
    assert got == truth


def test_phash_bucket_cap_drops_planted_blank_family(spark):
    """The degenerate-bucket cap on the multimodal rung: a planted
    family of identical payloads (blank-image analogue) collapses into
    one bucket per band; with the cap on, its quadratic pair set is
    dropped BEFORE the candidate join while an unrelated small near-dup
    pair survives — `keep_buckets_within_cap` semantics end-to-end."""
    family = [(1000 + i, "boilerplate cookie banner text " * 3) for i in range(40)]
    # distinct payloads, phash-identical (delta-1 code-point edit flips
    # no aHash bit on this text): the genuine near-dup the cap must keep
    pair = [
        (1, "a perfectly distinctive sentence about volcanic geology"),
        (2, "a perfectly distinctive sentence about volcanic geolpgy"),
    ]
    media = mm.attach_binary_payload(
        spark.createDataFrame(family + pair, "doc_id long, text string"),
        "doc_id", "text",
    )
    uncapped = mm.phash_neardup_pairs(
        media, thumbnailer=mm.fake_thumbnailer, max_hamming=7
    )
    capped = mm.phash_neardup_pairs(
        media, thumbnailer=mm.fake_thumbnailer, max_hamming=7,
        max_bucket_size=10,
    )
    fam_ids = {i for i, _ in family}
    un = {(r[0], r[1]) for r in uncapped.select("media_id_1", "media_id_2").collect()}
    cp = {(r[0], r[1]) for r in capped.select("media_id_1", "media_id_2").collect()}
    assert sum(1 for a, b in un if a in fam_ids and b in fam_ids) == 40 * 39 // 2
    assert not any(a in fam_ids and b in fam_ids for a, b in cp)
    assert (1, 2) in un and (1, 2) in cp  # the real near-dup survives the cap


def test_phash_null_and_empty_payload_contract(spark):
    """NULL payload -> NULL bands, never a candidate (SQL NULL
    propagation); empty payload -> all-zero pixels -> deterministic
    all-ones signature, so two empties are exact phash dups."""
    rows = [(1, "some text"), (2, None), (3, ""), (4, "")]
    media = mm.attach_binary_payload(
        spark.createDataFrame(rows, "doc_id long, text string"), "doc_id", "text"
    )
    ph = {r["media_id"]: r["bands"] for r in mm.perceptual_hash(
        media, thumbnailer=mm.fake_thumbnailer
    ).collect()}
    assert ph[2] is None
    assert ph[3] == ph[4] == [255] * 8
    pairs = mm.phash_neardup_pairs(
        media, thumbnailer=mm.fake_thumbnailer, max_hamming=7
    ).collect()
    got = {(r["media_id_1"], r["media_id_2"], r["hamming"]) for r in pairs}
    assert (3, 4, 0) in got
    assert not any(2 in (a, b) for a, b, _ in got)


def test_phash_real_thumbnailer_is_stubbed():
    with pytest.raises(NotImplementedError):
        mm.thumbnail_image(b"bytes", "image/png", 64)
    with pytest.raises(ValueError):
        mm.perceptual_hash(None, n_pixels=60, n_bands=8)


def test_phash_neardup_precomputed_signatures_parity(spark):
    """The 100 TB path decodes ONCE: a persisted `perceptual_hash`
    artifact passed via signatures= must give identical pairs to the
    recompute path (df may be omitted entirely)."""
    docs = [(i, f"document number {i} with some shared boilerplate text")
            for i in range(20)]
    docs += [(100 + i, t.replace("e", "3")) for i, (j, t) in enumerate(docs[:5])]
    media = mm.attach_binary_payload(
        spark.createDataFrame(docs, "doc_id long, text string"),
        "doc_id", "text",
    )
    sigs = mm.perceptual_hash(media, thumbnailer=mm.fake_thumbnailer).persist()
    try:
        via_sigs = {
            tuple(r) for r in mm.phash_neardup_pairs(
                None, max_hamming=7, signatures=sigs
            ).collect()
        }
        recompute = {
            tuple(r) for r in mm.phash_neardup_pairs(
                media, thumbnailer=mm.fake_thumbnailer, max_hamming=7
            ).collect()
        }
    finally:
        sigs.unpersist()
    assert via_sigs == recompute and via_sigs
