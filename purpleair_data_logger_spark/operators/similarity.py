"""Embedding similarity search (ANN) over array<float> columns.

North-star operators (BASELINE.json): brute-force cosine top-k as the
correctness baseline, a random-hyperplane LSH bucketed variant as the
scale path, and cosine near-dup pair mining. All math runs JVM-side via
higher-order array functions (zip_with/aggregate) in double precision —
no Python per row.

Scale posture: the query set is broadcast (it's the small side by
construction); the corpus streams through one projection + one top-k
window per query partition. The LSH variant turns all-pairs search into
an equi-join on bucket signatures.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def lit_double_array(values: list[float]) -> Column:
    """Literal array<double> in ONE Py4J call (r13, guide §4 applied to
    the driver-side boundary): ``F.array(*[F.lit(x) …])`` costs one
    round-trip per element (~1-10 ms each on this host — a 64-dim
    centroid literal was ~100 ms of pure driver latency, and query
    CONSTRUCTION is inside bench's timed region), while one
    ``F.expr("array(…D)")`` parses JVM-side in ~1 ms total. Python
    ``repr`` emits shortest-round-trip doubles, so the parsed literals
    are bit-identical (verified for subnormals/π/1e-300). Non-finite
    values fall back to the per-element path (SQL has no inf/nan
    double literal)."""
    vals = [float(v) for v in values]
    if all(v == v and abs(v) != float("inf") for v in vals):
        return F.expr("array(" + ",".join(f"{v!r}D" for v in vals) + ")")
    return F.array(*[F.lit(v) for v in vals])


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product: zip_with multiply + aggregate sum."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 5,
    query_id_alias: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query vector. The ANN correctness baseline.

    Plan shape: broadcast(queries) × corpus → one fused projection
    computing cosine → per-query top-k via row_number window. The only
    shuffle is the window's partition-by-query (tiny: k rows per query
    survive the AQE-coalesced sort). Deterministic tie-break on id.

    Output: (query_id, neighbor_id, knn_rank).
    """
    q = queries.select(
        F.col(id_col).alias(query_id_alias),
        as_double_array(vec_col).alias("_qv"),
    ).withColumn("_qnorm", l2_norm(F.col("_qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(vec_col).alias("_cv"),
    ).withColumn("_cnorm", l2_norm(F.col("_cv")))

    sim = (dot(F.col("_qv"), F.col("_cv")) / (F.col("_qnorm") * F.col("_cnorm"))).alias(
        "_sim"
    )
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col(query_id_alias))
        .select(query_id_alias, "neighbor_id", sim)
    )
    w = Window.partitionBy(query_id_alias).orderBy(
        F.desc("_sim"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select(
            query_id_alias,
            "neighbor_id",
            F.col("knn_rank").cast("int").alias("knn_rank"),
        )
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes (driver-side).

    Uses a splitmix-style integer hash so planes are reproducible across
    engines/sessions without RNG state.
    """
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            x = (seed * 0x9E3779B97F4A7C15 + p * 0xBF58476D1CE4E5B9 + d * 0x94D049BB133111EB) & (
                2**64 - 1
            )
            x = (x ^ (x >> 30)) * 0xBF58476D1CE4E5B9 & (2**64 - 1)
            x = (x ^ (x >> 27)) * 0x94D049BB133111EB & (2**64 - 1)
            x ^= x >> 31
            row.append((x / 2**64) * 2.0 - 1.0)  # uniform [-1, 1)
        planes.append(row)
    return planes


def lsh_band_signatures(vec_col: Column, planes: list[list[float]], bands: int) -> Column:
    """Array of per-band sign signatures (OR-amplified LSH index).

    ``n_planes`` hyperplanes split into ``bands`` groups of
    ``n_planes/bands`` bits; element b = the integer signature of band
    b's bits. Two vectors are candidates iff any band matches — the
    same band-OR construction `dedup.minhash_lsh_candidates` uses.

    Perf note: this is the one similarity op that genuinely beats the
    JVM expression tree with Python — all n_planes dot products collapse
    into a single Arrow-batched numpy matmul ``(batch × dim) @ (dim ×
    n_planes)``. The alternatives measured at sf0.1: per-plane
    ``F.aggregate(zip_with(...))`` runs interpreted lambdas (~n_planes ×
    dim × 2 evals/row, ~8 s), and a flat multiply-add literal chain
    (n_planes × dim terms) blows Janino's 64 KB method limit and falls
    back to interpreted eval (~20 s). The matmul UDF is O(1) Python
    calls per batch and BLAS-vectorized (~0.5 s).
    """
    per_band = len(planes) // bands
    plane_mat = np.asarray(planes, dtype=np.float64).T  # (dim, n_planes)
    bit_weights = 1 << np.arange(per_band, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def _band_sigs(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        mat = np.asarray(v.tolist(), dtype=np.float64)  # (n, dim)
        bits = (mat @ plane_mat) >= 0.0  # (n, n_planes) sign bits
        sigs = np.column_stack(
            [
                bits[:, b * per_band : (b + 1) * per_band].astype(np.int64) @ bit_weights
                for b in range(bands)
            ]
        )
        return pd.Series(list(sigs))

    return _band_sigs(vec_col)


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 5,
    n_planes: int = 36,
    bands: int = 12,
    dim: int = 64,
    query_id_alias: str = "query_id",
) -> DataFrame:
    """Approximate top-k: banded random-hyperplane LSH candidate join,
    then exact cosine rank within the candidate set.

    OR-amplification (Indyk–Motwani style banding): each vector gets
    ``bands`` signatures of ``n_planes/bands`` sign bits; query and
    corpus rows are candidates iff some band matches, via a
    (band_idx, band_val) equi-join — the same band-OR shape as the
    MinHash pipeline. A pair at angular agreement p per bit collides
    with probability 1-(1-p^r)^b (r = bits/band), so recall is tuned by
    (r, b): more bits/band → sparser candidates, more bands → higher
    recall. The 3-bit × 12-band default holds recall ≥ 0.8 even for
    weakly-similar neighbors (cos ≈ 0.3, p ≈ 0.6 → 0.94); corpora with
    real cluster structure (neighbor cos ≥ 0.7, p ≥ 0.85) should widen
    bands to 8–16 bits for sparse candidate sets at the same recall.
    Candidates are deduped per (query, neighbor) before scoring so a
    multi-band hit is scored once.
    """
    planes = random_hyperplanes(dim, n_planes)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(vec_col).alias("_cv"),
    ).select(
        "neighbor_id",
        "_cv",
        F.posexplode(lsh_band_signatures(F.col("_cv"), planes, bands)).alias(
            "band_idx", "band_val"
        ),
    )
    q = queries.select(
        F.col(id_col).alias(query_id_alias),
        as_double_array(vec_col).alias("_qv"),
    ).select(
        query_id_alias,
        "_qv",
        F.posexplode(lsh_band_signatures(F.col("_qv"), planes, bands)).alias(
            "band_idx", "band_val"
        ),
    )

    cand = (
        c.join(F.broadcast(q), on=["band_idx", "band_val"])
        .filter(F.col("neighbor_id") != F.col(query_id_alias))
        .select(query_id_alias, "neighbor_id", "_qv", "_cv")
        .dropDuplicates([query_id_alias, "neighbor_id"])
    )
    pairs = cand.select(
        query_id_alias, "neighbor_id", cosine(F.col("_qv"), F.col("_cv")).alias("_sim")
    )
    w = Window.partitionBy(query_id_alias).orderBy(F.desc("_sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select(
            query_id_alias,
            "neighbor_id",
            F.col("knn_rank").cast("int").alias("knn_rank"),
        )
    )


def train_ivf_centroids(
    corpus: DataFrame,
    vec_col: str,
    *,
    n_lists: int = 16,
    max_iter: int = 5,
    seed: int = 42,
    sample_fraction: float | None = None,
) -> list[list[float]]:
    """Coarse quantizer for IVF: spherical k-means centroids.

    Spark ML KMeans (distributed Lloyd's) over L2-normalized vectors —
    Euclidean clustering on the unit sphere matches the cosine metric
    the index assigns/probes with. Trains on an optional sample — at
    100 TB you train the quantizer on a few million sampled vectors,
    never the full corpus; assignment of the full corpus stays fully
    distributed in `knn_ivf`. Returns plain driver-side float lists
    (k × dim — tiny) so downstream assignment can inline them as
    literals without carrying the ML model around.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus if sample_fraction is None else corpus.sample(sample_fraction, seed)
    vecs = (
        train.select(as_double_array(vec_col).alias("_v"))
        .withColumn("_n", l2_norm(F.col("_v")))
        .select(
            array_to_vector(
                F.transform("_v", lambda x: x / F.col("_n"))
            ).alias("features")
        )
    )
    model = KMeans(k=n_lists, maxIter=max_iter, seed=seed).fit(vecs)
    return [list(map(float, c)) for c in model.clusterCenters()]


def nearest_lists(vec_col: Column, unit_centroids: list[list[float]], m: int) -> Column:
    """Top-``m`` centroid list ids per vector by cosine, as one numpy
    matmul + stable argsort per Arrow batch. Returns array<int>."""
    mat = np.asarray(unit_centroids, dtype=np.float64).T  # (dim, k)

    @F.pandas_udf("array<int>")
    def _top(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        dots = np.asarray(v.tolist(), dtype=np.float64) @ mat
        idx = np.argsort(-dots, axis=1, kind="stable")[:, :m].astype(np.int32)
        return pd.Series(list(idx))

    return _top(vec_col)


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 5,
    n_lists: int = 16,
    nprobe: int = 4,
    n_assign: int = 3,
    centroids: list[list[float]] | None = None,
    query_id_alias: str = "query_id",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: spherical k-means coarse
    quantizer, multi-assign every corpus vector to its ``n_assign``
    nearest centroid lists, probe each query's ``nprobe`` nearest
    lists, exact-rank inside the probed lists.

    The second ANN scale path next to `knn_lsh` (SURVEY: "IVF or LSH").
    Plan shape: centroids are driver-side literals (k × dim); both
    corpus assignment and query probing are one matmul-UDF projection +
    in-UDF stable argsort — no window/shuffle anywhere before the
    candidate join, which is a broadcast equi-join on ``list_id``.
    Multi-assignment (Faiss-style redundancy) replicates the index
    ``n_assign``× to hold recall on weakly-clustered corpora; the
    candidate fraction per query is ~``n_assign × nprobe / n_lists`` in
    the uniform worst case and far less when clusters are sharp. Recall
    floor vs brute force is pinned in tests/test_llm_ops.py.
    """
    if centroids is None:
        centroids = train_ivf_centroids(corpus, vec_col, n_lists=n_lists)
    # Normalize centroids driver-side: cosine ranking over unit
    # centroids == dot ranking (row norm is constant per row).
    norms = [sum(x * x for x in c) ** 0.5 or 1.0 for c in centroids]
    unit = [[x / n for x in c] for c, n in zip(centroids, norms)]

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(vec_col).alias("_cv"),
    ).select(
        "neighbor_id",
        "_cv",
        F.explode(nearest_lists(F.col("_cv"), unit, n_assign)).alias("list_id"),
    )
    probes = queries.select(
        F.col(id_col).alias(query_id_alias),
        as_double_array(vec_col).alias("_qv"),
    ).select(
        query_id_alias,
        "_qv",
        F.explode(nearest_lists(F.col("_qv"), unit, nprobe)).alias("list_id"),
    )

    cand = (
        c.join(F.broadcast(probes), on="list_id")
        .filter(F.col("neighbor_id") != F.col(query_id_alias))
        .dropDuplicates([query_id_alias, "neighbor_id"])
        .select(query_id_alias, "neighbor_id", cosine(F.col("_qv"), F.col("_cv")).alias("_sim"))
    )
    w = Window.partitionBy(query_id_alias).orderBy(F.desc("_sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select(
            query_id_alias,
            "neighbor_id",
            F.col("knn_rank").cast("int").alias("knn_rank"),
        )
    )


def cosine_neardup_lsh_verified(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.9,
    n_planes: int = 64,
    bands: int = 8,
    dim: int = 64,
    max_bucket_size: int | None = None,
    fetch_vectors_by_id: bool = False,
) -> DataFrame:
    """Embedding near-dup mining, 100 TB composition: banded hyperplane
    LSH candidates → exact cosine verify on candidates only.

    ``max_bucket_size`` (off by default) is the degenerate-bucket
    ceiling (VERDICT r11 #1): a boilerplate embedding family collapsing
    thousands of vectors into one (band_idx, band_val) turns the band
    join quadratic in that bucket; with a cap, over-cap buckets are
    semi-join-dropped before the join (same recall contract as
    `dedup.keep_buckets_within_cap` — a pair survives iff it still
    collides in some ≤-cap band; dense near-identical families are the
    upstream exact-dedup's job).

    The scale-safe replacement for `cosine_neardup_pairs`' blocked
    self-join: pair generation is an equi-join on (band_idx, band_val)
    — O(band collisions), never O(block²) on a low-cardinality key —
    and only candidate pairs pay the exact cosine. Band width must
    match the threshold: near-dups at cosine ≥ 0.9 agree per bit with
    p = 1 − θ/π ≈ 0.86, so the default 8-bit × 8-band index catches
    them with prob 1−(1−0.86⁸)^8 ≈ 0.95 (≈ 0.9999 at the ≥ 0.99
    similarity of true duplicates) while a random pair (p ≈ 0.5)
    collides anywhere with prob only ≈ 3% — the candidate set stays
    near-linear. Wide (low) thresholds need narrower bands, at the cost
    of candidate volume: mining at 0.4 with 3-bit bands admits ~80% of
    ALL pairs and degenerates to quadratic (measured 14 s vs 0.7 s at
    sf0.1). Recall is pinned in tests/test_llm_ops.py.

    Output matches `cosine_neardup_pairs`: (vec_id_a, vec_id_b,
    cosine_sim rounded to 4).

    r14 restructure (guide §1.2/§2.4 + §2.6): the signature table —
    (id, vector, band array) — is computed in ONE Arrow matmul pass
    over the SPREAD scan (`parallelize_small_scan`: the single-row-
    group local parquet otherwise serializes the matmul AND everything
    downstream into one task) and materialized once; both band-join
    sides scan the stored rows, so the Arrow stage runs 1x instead of
    2x and the final plan is Python-free.

    ``fetch_vectors_by_id`` (r14, VERDICT r13 #1 — the guide §8
    "decide with small rows, move big rows once" form): when True, the
    band self-join and the candidate dedup carry IDS ONLY and vectors
    are fetched once per candidate member (id semi-join + fetch join);
    when False (default) the vectors ride the band join. The trade is
    a measured CROSSOVER in candidate volume, not a universal win —
    x1/x3/x10 scale probe, min-of-2 noop (SCALE_PROBE.md):

        scale    vectors-ride (False)   ids-only (True)
        x1       1.68 s                 3.14 s
        x3       2.39 s                 4.59 s
        x10      21.3 s                 8.8 s     (exp 1.12 vs 0.45)

    At this fixture's band density a random pair collides with p ≈ 3%
    (79k candidate pairs from 2.1k vectors at sf0.1), so candidate
    VOLUME grows quadratically; once the pair table's payload shuffle
    (2 vectors x 550 B per pair — ~7 GB at x10) outweighs two extra
    joins, ids-only wins and keeps winning. Local/bench default stays
    False (the driver benches sf0.1, left of the crossover); cluster
    deployments mining real corpora run True — at 100 TB the pair
    table's vector payload is the dominant shuffle by orders of
    magnitude. Both forms return identical rows (same candidates, same
    verify arithmetic; parity pinned in tests/test_llm_ops.py).
    """
    from purpleair_data_logger_spark.materialize import materialize_once
    from purpleair_data_logger_spark.operators.dedup import (
        keep_buckets_within_cap,
        parallelize_small_scan,
    )

    planes = random_hyperplanes(dim, n_planes)
    base = parallelize_small_scan(
        df.select(F.col(id_col), F.col(vec_col)), id_col
    ).select(F.col(id_col), as_double_array(vec_col).alias("_v"))
    # One Arrow matmul pass over the spread scan, materialized once —
    # every consumer scans the stored rows (r13 this ran 2x, once per
    # band-join side, and inherited the scan's single partition).
    carry = [] if fetch_vectors_by_id else ["_v"]
    stored = materialize_once(
        base.select(
            id_col,
            *carry,
            lsh_band_signatures(F.col("_v"), planes, bands).alias("_bands"),
        )
    )
    t = stored.select(
        id_col, *carry, F.posexplode("_bands").alias("band_idx", "band_val")
    )
    if max_bucket_size is not None:
        t = keep_buckets_within_cap(
            t, max_bucket_size, keys=("band_idx", "band_val")
        )
    a, b = t.alias("a"), t.alias("b")
    pair_cols = (
        []
        if fetch_vectors_by_id
        else [F.col("a._v").alias("_va"), F.col("b._v").alias("_vb")]
    )
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_val") == F.col("b.band_val"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("vec_id_a"),
            F.col(f"b.{id_col}").alias("vec_id_b"),
            *pair_cols,
        )
        .dropDuplicates(["vec_id_a", "vec_id_b"])
    )
    if fetch_vectors_by_id:
        # Materialized once: feeds both id semi-joins + fetch joins.
        pairs = materialize_once(pairs)

        # Norms stay INLINE in the verify expression (not hoisted into
        # the fetch projection): a hoisted norm column lets Catalyst
        # infer isnotnull(norm) from the threshold filter and push the
        # whole 64-element fold BELOW the candidate semi-join — every
        # corpus row would pay it (r14 plan dump). Each side keeps one
        # vector per id, as the default form's pair dropDuplicates does:
        # a repeated id would otherwise multiply its pairs.
        def side(pair_col: str, vec_out: str) -> DataFrame:
            ids = pairs.select(F.col(pair_col).alias(id_col))
            return (
                base.join(ids, id_col, "left_semi")
                .dropDuplicates([id_col])
                .select(F.col(id_col).alias("_sid"), F.col("_v").alias(vec_out))
            )

        pairs = (
            pairs.join(
                side("vec_id_a", "_va"), on=F.col("vec_id_a") == F.col("_sid")
            )
            .drop("_sid")
            .join(
                side("vec_id_b", "_vb"), on=F.col("vec_id_b") == F.col("_sid")
            )
            .drop("_sid")
        )
    sim = dot(F.col("_va"), F.col("_vb")) / (
        l2_norm(F.col("_va")) * l2_norm(F.col("_vb"))
    )
    return (
        pairs.select("vec_id_a", "vec_id_b", sim.alias("_sim"))
        .filter(F.col("_sim") >= threshold)
        .select("vec_id_a", "vec_id_b", F.round(F.col("_sim"), 4).alias("cosine_sim"))
    )


def cosine_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    *,
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding near-dup mining: cosine ≥ threshold within a block.

    Blocked self-join (block key = e.g. a cluster label or LSH bucket)
    keeps pair generation shuffle-bounded — but within one block it is
    O(block²), so a low-cardinality blocking key does not survive a
    100 TB corpus. This is the oracled baseline;
    `cosine_neardup_lsh_verified` is the scale composition. Output:
    (vec_id_a, vec_id_b, cosine_sim rounded to 4).
    """
    from purpleair_data_logger_spark.operators.dedup import (
        parallelize_small_scan,
    )

    # The per-pair dot/norm verify must not inherit a few-partition
    # scan: locally the block self-join's probe side ran in ONE task
    # (single-row-group parquet; measured 2.71 -> 0.52 s at sf0.1 with
    # the spread — r13, guide §2.6). No-op at scale.
    t = parallelize_small_scan(df, id_col).select(
        F.col(id_col),
        F.col(block_col).alias("_blk"),
        as_double_array(vec_col).alias("_v"),
    ).withColumn("_n", l2_norm(F.col("_v")))
    a, b = t.alias("a"), t.alias("b")
    sim = dot(F.col("a._v"), F.col("b._v")) / (F.col("a._n") * F.col("b._n"))
    return (
        a.join(
            b,
            on=[
                F.col("a._blk") == F.col("b._blk"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("vec_id_a"),
            F.col(f"b.{id_col}").alias("vec_id_b"),
            sim.alias("_sim"),
        )
        .filter(F.col("_sim") >= threshold)
        .select("vec_id_a", "vec_id_b", F.round(F.col("_sim"), 4).alias("cosine_sim"))
    )


def knn_bruteforce_filtered(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    filter_col: str,
    *,
    k: int = 5,
    query_id_alias: str = "query_id",
) -> DataFrame:
    """Filtered vector search: exact cosine top-k where neighbors must
    share the query's ``filter_col`` value — the tenant/shard/language-
    constrained ANN pattern (every production vector store exposes it;
    filtering AFTER an unconstrained top-k under-fills k whenever the
    global neighborhood is dominated by other partitions).

    Pushing the predicate INTO pair generation changes the plan shape
    from `knn_bruteforce`'s broadcast cross join to a broadcast
    EQUI-join on the filter key: candidate pairs per query shrink from
    |corpus| to |corpus ∩ filter|, and Catalyst prunes corpus-side
    row groups via the join key where stats allow. Same deterministic
    ranking contract as the unfiltered baseline (desc cosine, asc id).

    Output: (query_id, filter value, neighbor_id, knn_rank).
    """
    q = queries.select(
        F.col(id_col).alias(query_id_alias),
        F.col(filter_col).alias("_fv"),
        as_double_array(vec_col).alias("_qv"),
    ).withColumn("_qnorm", l2_norm(F.col("_qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(filter_col).alias("_cfv"),
        as_double_array(vec_col).alias("_cv"),
    ).withColumn("_cnorm", l2_norm(F.col("_cv")))

    sim_expr = (
        dot(F.col("_qv"), F.col("_cv")) / (F.col("_qnorm") * F.col("_cnorm"))
    ).alias("_sim")
    pairs = (
        c.join(F.broadcast(q), F.col("_cfv") == F.col("_fv"))
        .filter(F.col("neighbor_id") != F.col(query_id_alias))
        .select(query_id_alias, F.col("_fv").alias(filter_col), "neighbor_id", sim_expr)
    )
    w = Window.partitionBy(query_id_alias).orderBy(
        F.desc("_sim"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select(
            query_id_alias,
            filter_col,
            "neighbor_id",
            F.col("knn_rank").cast("int").alias("knn_rank"),
        )
    )


# ---------------------------------------------------------------------------
# Int8 scalar quantization (SQ8): the ANN memory-scale path
# ---------------------------------------------------------------------------


def quantization_calibration(
    corpus: DataFrame, vec_col: str
) -> tuple[list[float], list[float]]:
    """Per-dimension (min, span) over the corpus — the SQ8 calibration
    table. One posexplode + map-side-combined aggregate: the shuffle
    carries |map tasks| × dim rows for a dim-row answer; the result is
    driver-sized by construction (dim ≪ memory, the
    `train_ivf_centroids` precedent) and is embedded as literal arrays
    in the encode expression. Degenerate dimensions (mx == mn) get
    span 0 and encode to code 0."""
    rows = (
        corpus.select(
            F.posexplode(as_double_array(vec_col)).alias("pos", "v")
        )
        .groupBy("pos")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .collect()
    )
    by_pos = {r["pos"]: (r["mn"], r["mx"]) for r in rows}
    mins = [by_pos[i][0] for i in range(len(by_pos))]
    spans = [by_pos[i][1] - by_pos[i][0] for i in range(len(by_pos))]
    return mins, spans


def quantize_int8(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    mins: list[float],
    spans: list[float],
    *,
    codes_alias: str = "codes",
) -> DataFrame:
    """Affine int8 scalar quantization: code_i = round((v_i − mn_i) ·
    255 / span_i) clamped to [0, 255] — 4× less memory/IO than float32
    and an integer-dot candidate scorer (`knn_quantized_rescored`).
    The clamp matters for out-of-distribution inputs: queries outside
    the corpus calibration range would otherwise produce codes outside
    the documented range and skew centered-dot candidate scores. Every
    code is ONE fixed float expression on identical operands ending in
    half-away-from-zero rounding (Spark ``round`` ≡ DuckDB ``round``)
    then an integer clamp, so codes are bit-identical across engines —
    no summation anywhere. JVM-side ``transform`` with index lambda;
    no Python, no shuffle.

    Output: (id, codes array<int>).
    """
    return df.select(
        id_col,
        sq8_codes(as_double_array(vec_col), mins, spans).alias(codes_alias),
    )


def sq8_codes(
    vec: Column, mins: list[float], spans: list[float]
) -> Column:
    """The SQ8 encode expression itself (see `quantize_int8` for the
    numeric contract) — exposed as a Column so composed operators
    (`knn_ivf_quantized`) can encode inline on an already-projected
    vector column without a second corpus scan."""
    mn_arr = lit_double_array(mins)
    sp_arr = lit_double_array(spans)

    def _code(x, i):
        mn = F.element_at(mn_arr, i + 1)
        sp = F.element_at(sp_arr, i + 1)
        raw = F.round((x - mn) * 255.0 / sp).cast("int")
        return (
            F.when(sp == 0.0, F.lit(0))
            .otherwise(F.least(F.greatest(raw, F.lit(0)), F.lit(255)))
        )

    return F.transform(vec, _code)


def int_dot_centered(a: Column, b: Column) -> Column:
    """Exact centered int8 dot product: Σ (a_i−128)(b_i−128) as BIGINT.
    Order-independent integer arithmetic — the candidate scorer is
    bit-identical across engines and reruns (raw uncentered code dots
    are a poor cosine proxy: the affine offset dominates; centering at
    the scale midpoint recovers recall 0.98+ at 8× headroom, pinned in
    tests)."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: ((x - 128) * (y - 128)).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def knn_quantized_rescored(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 5,
    candidate_factor: int = 8,
    query_id_alias: str = "query_id",
) -> DataFrame:
    """SQ8 two-stage ANN: centered-int8-dot candidate generation (top
    C = candidate_factor·k per query, exact BIGINT scores, ties by
    id), then exact float cosine rescoring of the C candidates only.

    Scale story vs `knn_bruteforce`: the corpus-wide pass touches 64
    BYTES per vector instead of 256+ (4× IO), the scorer is an integer
    dot (SIMD-friendly, no divisions, no sqrt), and the exact float
    path runs on |queries|·C rows — independent of corpus size. The
    candidate stage composes with the LSH/IVF bucketing paths
    (`knn_lsh`, `knn_ivf`) for sublinear scan at cluster scale; flat
    SQ8 is the memory-bound rung of that ladder. Candidate scores
    being exact integers, the candidate SET is deterministic
    cross-engine — only the final cosine carries floats (same
    contract as `knn_bruteforce`).

    Output: (query_id, neighbor_id, knn_rank).
    """
    mins, spans = quantization_calibration(corpus, vec_col)
    cc = quantize_int8(corpus, id_col, vec_col, mins, spans).select(
        F.col(id_col).alias("neighbor_id"), F.col("codes").alias("_cc")
    )
    qc = quantize_int8(queries, id_col, vec_col, mins, spans).select(
        F.col(id_col).alias(query_id_alias), F.col("codes").alias("_qc")
    )
    cand_w = Window.partitionBy(query_id_alias).orderBy(
        F.desc("_iscore"), F.asc("neighbor_id")
    )
    cands = (
        cc.crossJoin(F.broadcast(qc))
        .filter(F.col("neighbor_id") != F.col(query_id_alias))
        .select(
            query_id_alias,
            "neighbor_id",
            int_dot_centered(F.col("_qc"), F.col("_cc")).alias("_iscore"),
        )
        .withColumn("_crank", F.row_number().over(cand_w))
        .filter(F.col("_crank") <= candidate_factor * k)
        .select(query_id_alias, "neighbor_id")
    )
    qv = queries.select(
        F.col(id_col).alias(query_id_alias),
        as_double_array(vec_col).alias("_qv"),
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(vec_col).alias("_cv"),
    )
    resc = (
        cands.join(F.broadcast(qv), on=query_id_alias)
        .join(cv, on="neighbor_id")
        .select(
            query_id_alias,
            "neighbor_id",
            cosine(F.col("_qv"), F.col("_cv")).alias("_sim"),
        )
    )
    w = Window.partitionBy(query_id_alias).orderBy(
        F.desc("_sim"), F.asc("neighbor_id")
    )
    return (
        resc.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select(
            query_id_alias,
            "neighbor_id",
            F.col("knn_rank").cast("int").alias("knn_rank"),
        )
    )


def knn_ivf_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 5,
    n_lists: int = 16,
    nprobe: int = 4,
    n_assign: int = 3,
    candidate_factor: int = 8,
    centroids: list[list[float]] | None = None,
    calibration: tuple[list[float], list[float]] | None = None,
    query_id_alias: str = "query_id",
) -> DataFrame:
    """The composed top rung of the ANN ladder: IVF list pruning →
    centered-int8 (SQ8) candidate scoring WITHIN the probed lists →
    exact float cosine rescore of the survivors. Faiss calls this
    shape IVF-SQ8; it is the 100 TB search endpoint both component
    docstrings gesture at.

    Why the composition matters at scale — the two rungs cut
    orthogonal costs and multiply:
    * IVF (`knn_ivf`) makes the scan SUBLINEAR: only
      ~n_assign·nprobe/n_lists of the corpus is touched per query,
      but each touched row still carried a float vector (256+ B).
    * SQ8 (`knn_quantized_rescored`) makes each touched row CHEAP:
      64 B of codes and an integer dot, but the flat variant still
      scans every row.
    Composed, a probed-list candidate row costs 64 bytes and an
    integer dot, the probe itself prunes ~75%+ of the corpus, and
    exact float work is |queries|·C rows — independent of corpus
    size.

    Plan shape (pinned in tests/test_plans.py): both index-build
    artifacts (centroids k×dim, calibration 2×dim) are driver-side
    literals; corpus rows are scanned once, encode + list-assign in
    the same projection (one Arrow pass for the assignment matmul, the
    encode is pure JVM `transform`); the candidate join is a broadcast
    equi-join on list_id (never a cross join — the flat SQ8 scan's
    BroadcastNestedLoopJoin disappears here); candidate scores are
    exact BIGINTs so the candidate set stays deterministic
    cross-engine; rescore joins are broadcast on candidate rows only.

    Recall floor vs brute force is pinned in tests/test_llm_ops.py
    (the `knn_ivf` precedent — rows-only at the driver gate because
    k-means training is iterative, not SQL-expressible).

    Output: (query_id, neighbor_id, knn_rank).
    """
    if centroids is None:
        centroids = train_ivf_centroids(corpus, vec_col, n_lists=n_lists)
    if calibration is None:
        calibration = quantization_calibration(corpus, vec_col)

    # One corpus scan: project → SQ8-encode (JVM) + multi-assign
    # (one Arrow matmul) in the same stage; floats are dropped before
    # the join so the shuffled/broadcast-probed payload is 64 B codes.
    c = build_ivf_sq8_index(
        corpus,
        id_col,
        vec_col,
        centroids=centroids,
        calibration=calibration,
        n_assign=n_assign,
    )
    return knn_over_ivf_sq8_index(
        c,
        corpus,
        queries,
        id_col,
        vec_col,
        k=k,
        nprobe=nprobe,
        candidate_factor=candidate_factor,
        centroids=centroids,
        calibration=calibration,
        query_id_alias=query_id_alias,
    )


def _unit_centroids(centroids: list[list[float]]) -> list[list[float]]:
    norms = [sum(x * x for x in c) ** 0.5 or 1.0 for c in centroids]
    return [[x / n for x in c] for c, n in zip(centroids, norms)]


def nearest_lists_exact(
    vec_col: Column,
    centroids: list[list[float]],
    m: int,
    *,
    vec_norm: Column | None = None,
) -> Column:
    """SQL-replayable top-``m`` centroid assignment (VERDICT r11 #3):
    per-centroid cosine as ordered JVM folds — the `knn_bruteforce`
    arithmetic, bit-identical to DuckDB ``list_cosine_similarity`` —
    ranked by (score DESC, list_id ASC) inside one ``array_sort``.
    The numpy-matmul `nearest_lists` is faster per batch but its SIMD
    summation order is engine-private, which is what kept the
    index-append row rows-only; this variant trades one Arrow stage
    for a plan whose ranking an oracle can replay. Returns array<int>
    of list ids; equivalence with `nearest_lists` on non-pathological
    (no exact cosine tie) corpora is pinned in tests/test_llm_ops.py.

    r13 optimization (guide §4.1/§1.2): the original form evaluated
    ``cosine(vec, lit_centroid)`` per centroid — THREE interpreted
    higher-order folds each (the dot plus BOTH norms), so one 64-dim
    row against 16 centroids paid ~48 interpreted 64-element folds.
    Value-identically reduced to 16: each centroid's norm is a
    driver-side Python literal (same left-to-right ``0.0 + x·x``
    accumulation then ``sqrt`` — IEEE-double-identical to the JVM
    fold), and callers pass ``vec_norm`` — the `l2_norm` of the vector
    computed ONCE in an upstream projection (an expensive alias
    referenced 16× is not collapsed into consumers, so it is evaluated
    once per row). Without ``vec_norm`` the old inline per-centroid
    norm is used (same value either way). A fully-unrolled literal
    multiply-add chain was measured instead and REJECTED: 16×64×2
    terms blow Janino's 64 KB method limit, the projection falls back
    to interpreted eval, and the query runs 3.5× SLOWER than the fold
    form (25.4 s vs 7.3 s same-host; the `lsh_band_signatures`
    docstring records the same cliff for hyperplane signatures)."""
    import math

    if vec_norm is None:
        vec_norm = l2_norm(vec_col)

    def _cnorm(c: list[float]) -> float:
        acc = 0.0
        for x in c:
            acc = acc + float(x) * float(x)
        return math.sqrt(acc)

    pairs = F.array(
        *[
            F.struct(
                (
                    dot(vec_col, lit_double_array(c))
                    / (vec_norm * F.lit(_cnorm(c)))
                ).alias("s"),
                F.lit(i).cast("int").alias("i"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    srt = F.array_sort(
        pairs,
        lambda l, r: (
            F.when(l["s"] > r["s"], F.lit(-1))
            .when(l["s"] < r["s"], F.lit(1))
            .otherwise(
                F.when(l["i"] < r["i"], F.lit(-1))
                .when(l["i"] > r["i"], F.lit(1))
                .otherwise(F.lit(0))
            )
        ),
    )
    return F.transform(F.slice(srt, 1, m), lambda p: p["i"])


def build_ivf_sq8_index(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    centroids: list[list[float]],
    calibration: tuple[list[float], list[float]],
    n_assign: int = 3,
    exact_assign: bool = False,
) -> DataFrame:
    """Materialize the IVF-SQ8 posting rows for ``corpus``: one row per
    (vector, assigned list) carrying the 64 B SQ8 code — the index
    representation `knn_over_ivf_sq8_index` probes and
    `ann_index_append` grows incrementally. One scan: SQ8 encode is
    pure JVM ``transform``, the multi-assign is one Arrow matmul, both
    in the same projection; the float vector is dropped from the
    output so a persisted index costs codes + ids only.

    ``exact_assign`` swaps the matmul assignment for
    `nearest_lists_exact`'s ordered-fold cosine ranking — the
    SQL-replayable form an oracle can re-derive bit-for-bit (the
    append gate row uses it; the two agree wherever no exact cosine
    tie exists, pinned in tests).

    Output: (neighbor_id, _cc array<int>, list_id int).
    """
    mins, spans = calibration
    base = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(vec_col).alias("_cv"),
    )
    if exact_assign:
        # r13: hoist the vector norm into its own projection so the 16
        # per-centroid cosines share ONE fold evaluation per row
        # instead of re-folding it per centroid (see
        # `nearest_lists_exact`'s optimization note).
        base = base.withColumn("_cvnorm", l2_norm(F.col("_cv")))
        assign = nearest_lists_exact(
            F.col("_cv"), centroids, n_assign, vec_norm=F.col("_cvnorm")
        )
    else:
        assign = nearest_lists(
            F.col("_cv"), _unit_centroids(centroids), n_assign
        )
    return base.select(
        "neighbor_id",
        sq8_codes(F.col("_cv"), mins, spans).alias("_cc"),
        F.explode(assign).alias("list_id"),
    )


def ann_index_append(
    index: DataFrame,
    new_vecs: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    centroids: list[list[float]],
    calibration: tuple[list[float], list[float]],
    n_assign: int = 3,
    exact_assign: bool = False,
) -> DataFrame:
    """Incremental IVF-SQ8 index maintenance (VERDICT r6 #6): assign
    and encode ONLY the new vectors against the FROZEN coarse
    quantizer and SQ8 calibration, and union the posting rows onto the
    existing index — O(|new|) work, the existing index is never
    re-read or re-encoded (the `neardup_incremental_batch` discipline,
    `operators/dedup.py`, applied to the ANN ladder).

    Frozen parameters are the point AND the hazard: appended vectors
    from a drifted distribution still land in SOME nearest list (IVF
    degrades gracefully — recall drops only as lists grow imbalanced),
    but SQ8 codes CLAMP at the calibration range, silently flattening
    out-of-range dimensions. Run `calibration_drift` on each append
    batch; when any dimension's range moves more than the tolerance,
    re-encode (rebuild with fresh calibration) instead of appending.

    Equivalence invariant (pinned in tests/test_llm_ops.py): appending
    under frozen parameters produces EXACTLY the posting rows a full
    `build_ivf_sq8_index` over (base ∪ new) with the same parameters
    would — assignment and encode are deterministic per row, so
    incremental and rebuilt indexes are interchangeable.
    """
    return index.unionByName(
        build_ivf_sq8_index(
            new_vecs,
            id_col,
            vec_col,
            centroids=centroids,
            calibration=calibration,
            n_assign=n_assign,
            exact_assign=exact_assign,
        )
    )


def calibration_drift(
    new_vecs: DataFrame,
    vec_col: str,
    mins: list[float],
    spans: list[float],
    *,
    tolerance: float = 0.2,
) -> DataFrame:
    """Per-dimension SQ8 calibration drift of an append batch: how far
    the batch's [min, max] escapes the frozen calibration range,
    relative to the calibrated span. ``needs_reencode`` flags any
    dimension drifting past ``tolerance`` — the re-encode trigger for
    `ann_index_append` (codes clamp at the calibration range, so
    out-of-range mass quantizes to a constant and candidate ordering
    degrades silently).

    One posexplode + map-side-combined min/max aggregate over the NEW
    batch only (never the indexed corpus); the calibration rides in as
    literal arrays; output is dim rows — no collect, driver-sized by
    construction. A degenerate calibrated dimension (span 0) flags on
    ANY deviation (reported as drift_frac 1.0).

    Output: (pos, cal_min, cal_span, new_min, new_max, drift_frac,
    needs_reencode), ordered by pos.
    """
    mn_arr = lit_double_array(mins)
    sp_arr = lit_double_array(spans)
    agg = (
        new_vecs.select(
            F.posexplode(as_double_array(vec_col)).alias("pos", "v")
        )
        .groupBy("pos")
        .agg(F.min("v").alias("new_min"), F.max("v").alias("new_max"))
    )
    cal = agg.select(
        "pos",
        F.element_at(mn_arr, F.col("pos") + 1).alias("cal_min"),
        F.element_at(sp_arr, F.col("pos") + 1).alias("cal_span"),
        "new_min",
        "new_max",
    )
    escape = F.greatest(
        F.col("cal_min") - F.col("new_min"),
        F.col("new_max") - (F.col("cal_min") + F.col("cal_span")),
        F.lit(0.0),
    )
    drift = F.when(
        F.col("cal_span") > 0, escape / F.col("cal_span")
    ).otherwise(F.when(escape > 0, F.lit(1.0)).otherwise(F.lit(0.0)))
    return (
        cal.withColumn("drift_frac", drift)
        .withColumn(
            "needs_reencode", F.col("drift_frac") > F.lit(float(tolerance))
        )
        .orderBy("pos")
    )


def knn_over_ivf_sq8_index(
    index: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 5,
    nprobe: int = 4,
    candidate_factor: int = 8,
    centroids: list[list[float]],
    calibration: tuple[list[float], list[float]],
    query_id_alias: str = "query_id",
) -> DataFrame:
    """IVF-SQ8 search over a PREBUILT (possibly incrementally grown)
    posting-row index — the probe/score/rescore half of
    `knn_ivf_quantized`, decoupled so `ann_index_append`'s output is
    queryable without rebuilding. ``corpus`` supplies the float
    vectors for the exact rescore of surviving candidates (|q|·C rows
    only) and must cover every id in the index.
    """
    mins, spans = calibration
    unit = _unit_centroids(centroids)
    c = index
    probes = (
        queries.select(
            F.col(id_col).alias(query_id_alias),
            as_double_array(vec_col).alias("_qv"),
        )
        .select(
            query_id_alias,
            sq8_codes(F.col("_qv"), mins, spans).alias("_qc"),
            F.explode(
                nearest_lists(F.col("_qv"), unit, nprobe)
            ).alias("list_id"),
        )
    )
    cand_w = Window.partitionBy(query_id_alias).orderBy(
        F.desc("_iscore"), F.asc("neighbor_id")
    )
    cands = (
        c.join(F.broadcast(probes), on="list_id")
        .filter(F.col("neighbor_id") != F.col(query_id_alias))
        # multi-assign × multi-probe lands the same (query, neighbor)
        # pair through up to n_assign·nprobe shared lists; codes are
        # identical on every copy, so dedup before scoring
        .dropDuplicates([query_id_alias, "neighbor_id"])
        .select(
            query_id_alias,
            "neighbor_id",
            int_dot_centered(F.col("_qc"), F.col("_cc")).alias("_iscore"),
        )
        .withColumn("_crank", F.row_number().over(cand_w))
        .filter(F.col("_crank") <= candidate_factor * k)
        .select(query_id_alias, "neighbor_id")
    )
    qv = queries.select(
        F.col(id_col).alias(query_id_alias),
        as_double_array(vec_col).alias("_qv"),
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(vec_col).alias("_cv"),
    )
    resc = (
        cands.join(F.broadcast(qv), on=query_id_alias)
        .join(cv, on="neighbor_id")
        .select(
            query_id_alias,
            "neighbor_id",
            cosine(F.col("_qv"), F.col("_cv")).alias("_sim"),
        )
    )
    w = Window.partitionBy(query_id_alias).orderBy(
        F.desc("_sim"), F.asc("neighbor_id")
    )
    return (
        resc.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select(
            query_id_alias,
            "neighbor_id",
            F.col("knn_rank").cast("int").alias("knn_rank"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011): the memory-compression endpoint of the
# ANN ladder past SQ8 — D float32 dims become n_sub ONE-BYTE codebook
# ids (32x smaller than float64, 4x smaller again than SQ8), scored
# query-side via the classic ADC lookup-table sum.
# ---------------------------------------------------------------------------


def train_pq_codebooks(
    corpus: DataFrame,
    vec_col: str,
    *,
    n_sub: int = 8,
    k_codes: int = 256,
    max_iter: int = 8,
    sample_limit: int = 65536,
) -> list[list[list[float]]]:
    """Per-subspace k-means codebooks: n_sub independent quantizers of
    k_codes centroids each over the D/n_sub-dim vector slices.

    Training is DRIVER-side numpy Lloyd's over a bounded,
    deterministically-chosen sample (first ``sample_limit`` vectors in
    portable md5-of-id order — no RNG state, reruns identical), the
    `quantization_calibration` collect pattern: at 100 TB you train a
    PQ codebook on ~64k sampled vectors, never the corpus; ENCODING
    the corpus stays fully distributed (`pq_codes`). Initialization is
    deterministic too: the k_codes evenly-spaced vectors of the sorted
    sample per subspace. Empty clusters keep their previous centroid
    (standard Lloyd's degeneracy handling, deterministic).

    Codebooks are trained over L2-NORMALIZED vectors (and `knn_pq`
    encodes normalized vectors): on the unit sphere the ADC inner
    product ranks like cosine, which is what the exact rescore and the
    brute-force baseline rank by — skipping this costs real recall on
    corpora with varied norms.

    Fewer than ``k_codes`` sampled vectors duplicates centroids (the
    evenly-spaced init repeats rows) — harmless: encode argmin ties
    resolve to the lowest id. An EMPTY corpus raises a labeled
    ValueError.

    Returns plain nested float lists (n_sub × k_codes × subdim —
    tiny) inlined as literals downstream, like `train_ivf_centroids`.
    """
    from purpleair_data_logger_spark.operators.dedup import md5_long

    sample = (
        corpus.select(as_double_array(vec_col).alias("_v"))
        .withColumn("_h", md5_long(F.col("_v").cast("string")))
        .orderBy("_h")
        .limit(sample_limit)
        .select("_v")
        .collect()
    )
    if not sample:
        raise ValueError(
            "train_pq_codebooks: empty corpus (or all-NULL vectors) — "
            "nothing to train on"
        )
    x = np.asarray([r["_v"] for r in sample], dtype=np.float64)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    x = x / norms
    dim = x.shape[1]
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    sub = dim // n_sub
    books: list[list[list[float]]] = []
    for m in range(n_sub):
        xs = x[:, m * sub : (m + 1) * sub]
        order = np.lexsort(xs.T[::-1])  # deterministic total order
        xs_sorted = xs[order]
        idx = np.linspace(0, len(xs_sorted) - 1, k_codes).astype(int)
        cent = xs_sorted[idx].copy()
        xs_sq = (xs**2).sum(axis=1)[:, None]  # (N, 1), rank-constant
        for _ in range(max_iter):
            # ||x−c||² = ||x||² − 2x·c + ||c||² via matmul: (N, K)
            # memory, never the (N, K, sub) difference tensor.
            d2 = xs_sq - 2.0 * (xs @ cent.T) + (cent**2).sum(axis=1)[None, :]
            assign = d2.argmin(axis=1)
            for j in range(k_codes):
                mask = assign == j
                if mask.any():
                    cent[j] = xs[mask].mean(axis=0)
        books.append([[float(v) for v in c] for c in cent])
    return books


def pq_codes(vec_col: Column, codebooks: list[list[list[float]]]) -> Column:
    """Distributed PQ encode: per subspace, the argmin-L2 codebook id
    (ties to the lowest id). One numpy reshape + matmul per Arrow
    batch — the `nearest_lists` pandas_udf pattern, the documented
    Python slow path (never per-row). Returns array<int> of length
    n_sub; at rest that is n_sub BYTES per vector."""
    books = np.asarray(codebooks, dtype=np.float64)  # (M, K, sub)
    n_sub, k_codes, sub = books.shape
    # ||x - c||² = ||x||² - 2x·c + ||c||²; per-x term is rank-constant.
    cnorm = (books**2).sum(axis=2)  # (M, K)

    @F.pandas_udf("array<int>")
    def _enc(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        x = np.asarray(v.tolist(), dtype=np.float64)  # (N, D)
        xs = x.reshape(len(x), n_sub, sub)  # (N, M, sub)
        # scores (N, M, K): -2 x·c + ||c||², argmin == L2 argmin
        dots = np.einsum("nms,mks->nmk", xs, books)
        d2 = cnorm[None, :, :] - 2.0 * dots
        codes = d2.argmin(axis=2).astype(np.int32)  # first-min ties
        return pd.Series(list(codes))

    return _enc(vec_col)


def pq_lut(vec_col: Column, codebooks: list[list[list[float]]]) -> Column:
    """Query-side ADC lookup table: lut[m][j] = q_m · c_{m,j} — one
    numpy einsum per Arrow batch over the driver-side codebooks
    (n_sub·k_codes dots, computed once per QUERY row, never per
    pair; at k_codes=256 this is 16k multiply-adds per query, far too
    large to inline as a literal expression tree). Returns
    array<array<double>>."""
    books = np.asarray(codebooks, dtype=np.float64)  # (M, K, sub)
    n_sub, k_codes, sub = books.shape

    @F.pandas_udf("array<array<double>>")
    def _lut(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        q = np.asarray(v.tolist(), dtype=np.float64).reshape(
            len(v), n_sub, sub
        )
        luts = np.einsum("nms,mks->nmk", q, books)  # (N, M, K)
        return pd.Series([[list(row) for row in lut] for lut in luts])

    return _lut(vec_col)


def pq_adc_score(codes: Column, lut: Column) -> Column:
    """ADC score = Σ_m lut[m][code_m]: n_sub ARRAY LOOKUPS per pair
    (not subdim multiplies — the whole point of the table). Fixed
    left-fold float sum, deterministic within an engine."""
    looked = F.zip_with(
        codes,
        F.sequence(F.lit(1), F.size(lut)),
        lambda code, m: F.element_at(F.element_at(lut, m), code + 1),
    )
    return F.aggregate(
        looked, F.lit(0.0), lambda acc, v: acc + v
    )


def knn_pq(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 5,
    n_sub: int = 8,
    k_codes: int = 256,
    candidate_factor: int = 8,
    codebooks: list[list[list[float]]] | None = None,
    query_id_alias: str = "query_id",
) -> DataFrame:
    """PQ-ADC two-stage ANN: codebook-id encode of the corpus (n_sub
    bytes per vector), per-query lookup-table scoring of every code
    (top candidate_factor·k survive, ties by id), exact float cosine
    rescore of the survivors only.

    Scale story: the corpus-wide pass reads n_sub BYTES per vector —
    8 bytes here vs 64 B SQ8 vs 256+ B float (32x IO) — and scores
    each with n_sub array lookups + adds; the LUT costs one
    n_sub·k_codes·subdim projection per QUERY row. Candidate scores
    are floats (unlike SQ8's exact integer dot), so the candidate SET
    is deterministic per engine but not an oracle surface — the rung
    is rows-only at the gate with its recall pinned in pytest, the
    `knn_ivf` precedent. Composes with IVF list pruning exactly as
    `knn_ivf_quantized` composes SQ8.

    Output: (query_id, neighbor_id, knn_rank).
    """
    if codebooks is None:
        codebooks = train_pq_codebooks(
            corpus, vec_col, n_sub=n_sub, k_codes=k_codes
        )

    def _unit(df):
        # Encode/score on the unit sphere (codebooks are trained
        # there): ADC inner product then ranks like the cosine the
        # rescore and baseline use. Zero vectors pass through as-is.
        return (
            df.select(
                F.col(id_col).alias("_id"),
                as_double_array(vec_col).alias("_v"),
            )
            .withColumn("_n", l2_norm(F.col("_v")))
            .select(
                "_id",
                F.transform(
                    "_v",
                    lambda x: x
                    / F.when(F.col("_n") == 0.0, F.lit(1.0)).otherwise(
                        F.col("_n")
                    ),
                ).alias("_v"),
            )
        )

    cc = _unit(corpus).select(
        F.col("_id").alias("neighbor_id"),
        pq_codes(F.col("_v"), codebooks).alias("_codes"),
    )
    qc = _unit(queries).select(
        F.col("_id").alias(query_id_alias),
        pq_lut(F.col("_v"), codebooks).alias("_lut"),
    )
    cand_w = Window.partitionBy(query_id_alias).orderBy(
        F.desc("_ascore"), F.asc("neighbor_id")
    )
    cands = (
        cc.crossJoin(F.broadcast(qc))
        .filter(F.col("neighbor_id") != F.col(query_id_alias))
        .select(
            query_id_alias,
            "neighbor_id",
            pq_adc_score(F.col("_codes"), F.col("_lut")).alias("_ascore"),
        )
        .withColumn("_crank", F.row_number().over(cand_w))
        .filter(F.col("_crank") <= candidate_factor * k)
        .select(query_id_alias, "neighbor_id")
    )
    qv = queries.select(
        F.col(id_col).alias(query_id_alias),
        as_double_array(vec_col).alias("_qv"),
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(vec_col).alias("_cv"),
    )
    resc = (
        cands.join(F.broadcast(qv), on=query_id_alias)
        .join(cv, on="neighbor_id")
        .select(
            query_id_alias,
            "neighbor_id",
            cosine(F.col("_qv"), F.col("_cv")).alias("_sim"),
        )
    )
    w = Window.partitionBy(query_id_alias).orderBy(
        F.desc("_sim"), F.asc("neighbor_id")
    )
    return (
        resc.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select(
            query_id_alias,
            "neighbor_id",
            F.col("knn_rank").cast("int").alias("knn_rank"),
        )
    )
