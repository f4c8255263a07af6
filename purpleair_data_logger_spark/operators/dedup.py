"""Deduplication operators for large-scale text/training-data pipelines.

North-star additions beyond the reference's surface (BASELINE.json): the
reference's only dedup notion is its composite PK crashing on duplicate
inserts (SURVEY.md §2.9 R6); a 100 TB training-data pipeline needs
first-class dedup. Every operator here is shuffle-bounded — no O(n²)
cross join at scale:

* exact:        one hash-groupBy shuffle on a digest.
* key dedup:    dropDuplicates-style, expressed deterministically.
* token Jaccard within blocks: pair generation restricted to blocking
  keys (or LSH bands), never the full cross product.
* MinHash + LSH banding: shingle → minhash signature → band buckets →
  candidate pairs via an equi-join on (band, bucket-hash) — the standard
  near-dup pipeline (Broder '97), expressed as DataFrame ops only.
* SimHash: 64-bit fingerprint via per-token hashes; near-dups = hamming
  distance ≤ k within same band.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from purpleair_data_logger_spark.materialize import materialize_once


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: md5-digest groupBy; canonical row = min id.

    Returns one row per distinct content: (digest, n_copies, canonical
    id). Deterministic (unlike dropDuplicates' arbitrary pick), so it's
    oracle-comparable. One shuffle, combiner-reduced.
    """
    return df.groupBy(F.md5(F.col(text_col)).alias("text_md5")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min(F.col(id_col)).alias("canonical_doc_id"),
    )


def pk_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """R6: PK-duplicate resolution — keep first id per key, count dups.

    The reference lets duplicate ``(data_time_stamp, sensor_index)``
    crash the INSERT; our engine resolves idempotently (documented
    deviation, SURVEY.md §7.4).
    """
    return df.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.min(F.col(id_col)).alias(id_col),
        F.count(F.lit(1)).alias("n_dups"),
    )


def _token_set(text_col: str, sep: str = " ") -> Column:
    return F.array_distinct(F.split(F.col(text_col), sep))


def _jaccard(a: str, b: str) -> Column:
    """Exact Jaccard of two distinct-element array columns, rounded to
    4 places — the one verify every near-dup path shares."""
    inter = F.size(F.array_intersect(F.col(a), F.col(b)))
    union = F.size(F.array_union(F.col(a), F.col(b)))
    return F.round(inter.cast("double") / union.cast("double"), 4)


def jaccard_pairs_blocked(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    *,
    threshold: float = 0.9,
) -> DataFrame:
    """Token-set Jaccard near-dup pairs within blocking groups.

    Pairs are generated only inside a block (e.g. (lang, source) — or an
    LSH bucket from `minhash_lsh_candidates` for unblocked data), so the
    join is a shuffle-bounded self-equi-join, not a cross product. At
    100 TB the block key IS the shuffle key; skewed blocks split via AQE.

    Output: (doc_id_a, doc_id_b, jaccard) with doc_id_a < doc_id_b and
    jaccard >= threshold.
    """
    # The per-pair verify (array_intersect/union over full token sets)
    # must not inherit a few-partition scan: locally the block
    # self-join's probe side ran in ONE task (single-row-group
    # parquet; measured 3.53 -> 0.55 s at sf0.1 with the spread —
    # r13, guide §2.6). No-op at scale, where the scan already
    # exceeds defaultParallelism.
    t = parallelize_small_scan(df, id_col).select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        _token_set(text_col).alias("toks"),
    )
    a, b = t.alias("a"), t.alias("b")
    cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in block_cols] + [
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    ]
    return (
        a.join(b, on=cond, how="inner")
        .select(
            F.col(f"a.{id_col}").alias("doc_id_a"),
            F.col(f"b.{id_col}").alias("doc_id_b"),
            _jaccard("a.toks", "b.toks").alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


#: positional keyspace for paragraph_dedup's global first-occurrence
#: ordering: (doc_id, pos) collapses to doc_id * KEY + pos, exact int64
#: on any engine for corpora under ~9e13 docs × 100k paragraphs.
PARAGRAPH_KEYSPACE = 100_000


def paragraph_dedup(
    df: DataFrame, id_col: str, text_col: str, *, sep: str = "\n"
) -> DataFrame:
    """Paragraph-level exact dedup with document reassembly.

    The RefinedWeb/MassiveText boilerplate-removal pass: split each
    document into paragraphs, keep only the globally FIRST occurrence
    of each distinct paragraph (ordered by (doc id, position)), and
    stitch the survivors back together in original order. Repeated
    boilerplate (cookie banners, "subscribe" footers, licence blocks)
    survives exactly once corpus-wide instead of millions of times.

    Plan shape: posexplode → groupBy(md5(paragraph)).min(key) for the
    global-first decision → equi-join back on the hash → one groupBy
    shuffle on doc id for the reassembly. The winner aggregate is
    deliberately a groupBy + join rather than a min() window over
    md5(paragraph): a boilerplate paragraph repeated 10⁹ times across
    a 100 TB corpus is ONE window partition (windows get neither
    map-side combine nor AQE skew splitting — the whole hot cell lands
    on one task), while the aggregate combines the hot key map-side to
    one row per partition and the join back is AQE-skew-splittable.
    No pair generation anywhere. The first-occurrence key is the
    scalar doc_id*KEYSPACE+pos rather than a struct so the same min()
    is expressible in portable SQL.

    Output: (id, clean_md5 of the reassembled text, n_kept_paragraphs,
    n_dropped_paragraphs). Documents whose every paragraph was seen
    earlier reassemble to the empty string — full-document exact dups
    are a special case of this pass.
    """
    paras = df.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para")
    ).withColumn("_h", F.md5(F.col("para")))
    key = F.col(id_col) * PARAGRAPH_KEYSPACE + F.col("pos")
    winners = (
        paras.withColumn("_key", key)
        .groupBy("_h")
        .agg(F.min("_key").alias("_min"))
    )
    flagged = (
        paras.withColumn("_key", key)
        .join(winners, on="_h")
        .withColumn("_keep", F.col("_key") == F.col("_min"))
    )
    kept_sorted = F.transform(
        F.array_sort(
            F.collect_list(F.when(F.col("_keep"), F.struct("pos", "para")))
        ),
        lambda s: s["para"],
    )
    return flagged.groupBy(id_col).agg(
        F.md5(F.concat_ws(sep, kept_sorted)).alias("clean_md5"),
        F.sum(F.when(F.col("_keep"), 1).otherwise(0)).cast("long").alias(
            "n_kept_paragraphs"
        ),
        F.sum(F.when(~F.col("_keep"), 1).otherwise(0)).cast("long").alias(
            "n_dropped_paragraphs"
        ),
    )


def md5_long(col: Column) -> Column:
    """Portable 60-bit hash: first 15 hex digits of md5, as a long.

    The cross-engine member of the hash family: DuckDB reproduces it
    bit-for-bit by nibble-parsing ``substr(md5(x), 1, 15)``, which is
    what the LSH oracle SQL does. 60 bits keeps the value non-negative
    in an int64 on both engines (no sign-extension mismatches)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


#: Mersenne prime 2^31 - 1: the modulus of the portable affine MinHash
#: family. 31-bit operands keep every a*h+b product under 2^62, so the
#: arithmetic is exact ANSI int64 on Spark and DuckDB alike.
MERSENNE_P31 = (1 << 31) - 1


def affine_seeds(num_hashes: int, seed: int = 71) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the affine permutation family
    h_i(x) = (a_i * x + b_i) mod (2^31 - 1), a_i ∈ [1, p), b_i ∈ [0, p).

    splitmix-style integer mixing (same construction as
    `similarity.random_hyperplanes`) — reproducible across engines with
    no RNG state, so oracle SQL can inline the identical constants.
    """
    out = []
    for i in range(num_hashes):
        pair = []
        for salt in (0x1B, 0x2D):
            x = (seed * 0x9E3779B97F4A7C15 + (2 * i + salt) * 0xBF58476D1CE4E5B9) & (
                2**64 - 1
            )
            x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & (2**64 - 1)
            x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & (2**64 - 1)
            x ^= x >> 31
            pair.append(x)
        a = pair[0] % (MERSENNE_P31 - 1) + 1
        b = pair[1] % MERSENNE_P31
        out.append((a, b))
    return out


def parallelize_small_scan(df: DataFrame, key_col: str) -> DataFrame:
    """Guard for compute-heavy map stages behind few-partition scans.

    A single-row-group parquet file cannot be split, so locally (tests,
    bench, small extracts) the whole signature computation would run in
    ONE task while every other core idles. When the upstream plan
    yields fewer partitions than the cluster's parallelism, repartition
    the compact input rows (id + text — cheap) with an EXPLICIT
    partition count: AQE never coalesces a user-specified count,
    whereas `repartition(col)` alone would be coalesced right back to
    one partition at this data size. At scale the scan already exceeds
    defaultParallelism and this is a no-op — no shuffle is added.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, F.col(key_col))
    return df


def shingles(text_col: str, n: int = 3, sep: str = " ") -> Column:
    """Word n-gram shingle set as an array<string> column (JVM-side)."""
    toks = F.split(F.col(text_col), sep)
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )


def _seeded_minima(
    ex: DataFrame,
    hash_family: str,
    num_hashes: int,
    alias_prefix: str,
    group_col: str | None,
) -> DataFrame:
    """The seeded-minima stage shared by `minhash_signatures` (per-doc,
    group_col set) and `corpus_overlap_minhash` (corpus-global,
    group_col None): hash the exploded ``_sh`` shingle column once,
    then take min over ``num_hashes`` seeded re-hashes — md5+affine
    (portable, DuckDB-replayable) or xxhash64 (fast). One copy of the
    family construction, so the oracle SQL can never desynchronize
    from half of it (code-review r10)."""
    # Seeded-minima expressions are built as ONE F.expr each instead of
    # a ~6-call Column chain (r13, guide §4 applied to the DRIVER-side
    # boundary: each PySpark Column operation is a Py4J round-trip
    # measured at ~1-10 ms on this host, and the 64-seed family was
    # paying ~400 round-trips per query CONSTRUCTION — inside bench's
    # timed region and repeated per run). The SQL text parses to the
    # identical Catalyst expression (exact int64 multiply/add/mod), so
    # plans and values are unchanged.
    if hash_family == "md5":
        hashed = ex.withColumn(
            "_h", md5_long(F.col("_sh")) % F.lit(MERSENNE_P31)
        )
        seeded = [
            F.expr(
                f"min((_h * {a}L + {b}L) % {MERSENNE_P31}L)"
            ).alias(f"{alias_prefix}{i}")
            for i, (a, b) in enumerate(affine_seeds(num_hashes))
        ]
    elif hash_family == "xxhash64":
        hashed = ex.withColumn("_h", F.xxhash64(F.col("_sh")))
        seeded = [
            F.expr(f"min(xxhash64(_h, {i}))").alias(f"{alias_prefix}{i}")
            for i in range(num_hashes)
        ]
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    if group_col is None:
        return hashed.agg(*seeded)
    return hashed.groupBy(group_col).agg(*seeded)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 64,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash signatures: explode shingles, groupBy-min per seed.

    One row per document with ``num_hashes`` minima columns
    (``_mh0.._mhN``). The explode + single hash-aggregate shape keeps
    every expression flat (no nested array passes), so codegen stays
    happy and the only shuffle is the groupBy on the document id —
    partial aggregation combines minima map-side.

    ``hash_family`` picks the seeded family:

    * ``"xxhash64"`` (default, fastest): one string hash per shingle,
      then ``num_hashes`` cheap re-hashes of that 8-byte long
      (``xxhash64(h, seed)``) — variable-length string hashing happens
      once instead of num_hashes times per shingle. (An affine a*h+b
      permutation family would be cheaper still, but ANSI mode rejects
      the wrapping multiply.) Not reproducible outside Spark.
    * ``"md5"`` (portable): one md5 per shingle reduced to 31 bits,
      then ``num_hashes`` affine permutations ``(a_i*h + b_i) mod
      (2^31-1)`` (`affine_seeds` constants) — plain ANSI-exact int64
      multiply/add/mod that DuckDB replays bit-for-bit, so the whole
      LSH pipeline is oracle-checkable. An earlier portable family
      re-md5'd the hex digest per seed (64 string hashes per exploded
      row) and benched ~7x slower than this at sf0.1.

    NULL contract (fuzz-found, r6): a NULL text has no shingles and no
    signature — filtered. Without the filter, ``concat_ws`` coerces
    the NULL token slice to the '' shingle, making every NULL-text
    document a perfect near-duplicate of every other (and of genuinely
    empty documents) on the Spark side only, while SQL NULL
    propagation silently excludes them oracle-side.
    """
    ex = parallelize_small_scan(
        df.filter(F.col(text_col).isNotNull()), id_col
    ).select(
        F.col(id_col), F.explode(shingles(text_col, shingle_n)).alias("_sh")
    )
    return _seeded_minima(ex, hash_family, num_hashes, "_mh", id_col)


def lsh_banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, band_idx, band_hash) LSH band index rows for a corpus —
    the shared banding stage of `minhash_lsh_candidates` and
    `neardup_lsh_between`."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(
        df,
        id_col,
        text_col,
        num_hashes=num_hashes,
        shingle_n=shingle_n,
        hash_family=hash_family,
    )
    # One F.expr per band key instead of a per-column F.col chain —
    # same driver-side Py4J economy as `_seeded_minima` (r13); the SQL
    # parses to the identical md5/xxhash64 expression.
    if hash_family == "md5":
        def band_key(b: int) -> Column:
            cols = ", ".join(
                f"_mh{b * rows_per_band + r}" for r in range(rows_per_band)
            )
            return F.expr(f"md5(concat_ws(',', {cols}))")
    else:
        def band_key(b: int) -> Column:
            cols = ", ".join(
                f"_mh{b * rows_per_band + r}" for r in range(rows_per_band)
            )
            return F.expr(f"xxhash64({cols})")
    return sig.select(
        F.col(id_col),
        F.posexplode(F.array(*[band_key(b) for b in range(bands)])).alias(
            "band_idx", "band_hash"
        ),
    )


def keep_buckets_within_cap(
    banded: DataFrame,
    max_bucket_size: int,
    keys: tuple[str, str] = ("band_idx", "band_hash"),
) -> DataFrame:
    """Drop every band-index row that lands in a DEGENERATE bucket —
    one holding more than ``max_bucket_size`` docs — before the
    candidate self-join (VERDICT r11 #1).

    The band join's cost is Σ c·(c−1)/2 per bucket: healthy buckets
    are tiny, but one boilerplate family (cookie banners, templated
    pages) can collapse thousands of near-identical docs into a single
    (band_idx, band_hash) and silently turn "collision-bounded" into
    all-pairs. Capping bounds the join's worst case to
    cap·(cap−1)/2 per bucket ≈ O(corpus · cap) total.

    RECALL CONTRACT: a pair survives iff it still collides in at
    least one band whose bucket is ≤ cap. Docs whose EVERY collision
    sits in over-cap buckets lose candidacy — by construction those
    are members of dense near-exact families, which exact /
    `paragraph_dedup_boilerplate` dedup handles upstream (and
    `lsh_capped_drop_report` quantifies exactly what a given cap
    drops, per band, before any pipeline turns the cap on).

    Scale shape: the bucket-size aggregate is map-side combined on
    the same (band_idx, band_hash) key the candidate self-join
    shuffles on, and the filter is a left-semi join against the kept
    bucket keys — no row explosion, no extra wide shuffle.
    """
    k = list(keys)
    keep = (
        banded.groupBy(*k)
        .agg(F.count(F.lit(1)).alias("_bc"))
        .filter(F.col("_bc") <= int(max_bucket_size))
        .select(*k)
    )
    return banded.join(keep, on=k, how="left_semi")


def lsh_capped_drop_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_bucket_size: int,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Per-band accounting of what a bucket-size ceiling WOULD drop —
    the audit a deployment runs before enabling ``max_bucket_size`` on
    `minhash_lsh_candidates` (VERDICT r11 #1: the skew report made the
    degenerate-bucket hazard visible; this makes the mitigation's cost
    visible as data).

    Output per band: bucket count, buckets over the cap, docs inside
    over-cap buckets (the rows the semi-join would drop), candidate
    pairs avoided (the quadratic saving), and pairs kept. Exact BIGINT
    pair arithmetic (integer DIV — c·(c−1) is even). Same two
    map-side-combined aggregates as `lsh_bucket_skew_report`.
    """
    cap = int(max_bucket_size)
    b = lsh_banded(
        df, id_col, text_col,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        hash_family=hash_family,
    )
    c = F.col("_c")
    zero = F.lit(0).cast("long")
    buckets = b.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("_c")
    )
    return (
        buckets.groupBy(F.col("band_idx").cast("long").alias("band_idx"))
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(F.when(c > cap, F.lit(1).cast("long")).otherwise(zero)).alias(
                "buckets_over_cap"
            ),
            F.sum(F.when(c > cap, c).otherwise(zero)).alias("docs_dropped"),
            F.expr(
                f"sum(CASE WHEN _c > {cap} THEN _c * (_c - 1) DIV 2 "
                "ELSE CAST(0 AS BIGINT) END)"
            ).alias("pairs_dropped"),
            F.expr(
                f"sum(CASE WHEN _c <= {cap} THEN _c * (_c - 1) DIV 2 "
                "ELSE CAST(0 AS BIGINT) END)"
            ).alias("pairs_kept"),
        )
        .orderBy("band_idx")
    )


def neardup_lsh_between(
    new_df: DataFrame,
    base_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
    max_base_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental corpus dedup: near-dups of a NEW batch against an
    EXISTING corpus, verified exactly — the operation a 100 TB pipeline
    runs on every ingest (is today's crawl already in the corpus?).

    ``max_base_bucket_size`` (off by default) is the cross-side form
    of the degenerate-bucket ceiling (VERDICT r11 #1): a boilerplate
    family in the BASE corpus collapses into one (band_idx, band_hash)
    bucket of size B, and every matching new row pays B candidates on
    every ingest, forever. With the cap, over-cap base buckets are
    semi-join-dropped before the cross-side join; a new doc loses a
    candidate only when its base near-dup lives exclusively in over-cap
    base buckets — a dense near-exact base family that upstream exact /
    `paragraph_dedup_boilerplate` dedup should have collapsed.

    Candidate generation is a band equi-join between the two sides'
    LSH indexes, so it is O(cross-side band collisions): no new×new,
    no base×base, and never all-pairs. In steady state the base side's
    band index is a precomputed artifact (it is `lsh_banded` output —
    persist it bucketed by band_hash and only the new batch pays the
    signature cost). Verify = exact shingle-Jaccard on candidates
    only, fetched by two id equi-joins.

    Output: (new_doc_id, base_doc_id, jaccard) with jaccard ≥
    threshold. Ids may overlap between sides; self-pairs are excluded.
    """
    bb = lsh_banded(
        base_df, id_col, text_col,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        hash_family=hash_family,
    ).select(F.col(id_col).alias("base_doc_id"), "band_idx", "band_hash")
    sb = base_df.select(
        F.col(id_col).alias("base_doc_id"), shingles(text_col, shingle_n).alias("_sh_b")
    )
    return neardup_against_index(
        new_df, bb, sb, id_col, text_col,
        threshold=threshold, num_hashes=num_hashes, bands=bands,
        shingle_n=shingle_n, hash_family=hash_family,
        max_base_bucket_size=max_base_bucket_size,
    )


def neardup_against_index(
    new_df: DataFrame,
    base_index: DataFrame,
    base_shingles: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
    max_base_bucket_size: int | None = None,
    new_index: DataFrame | None = None,
) -> DataFrame:
    """`neardup_lsh_between` against PRECOMPUTED base-corpus artifacts —
    the steady-state ingest shape where only the new batch pays
    signature cost. ``max_base_bucket_size`` drops over-cap BASE
    buckets before the cross-side join (see `neardup_lsh_between` for
    the recall contract); in steady state a deployment caps the
    persisted index ONCE at build/append time with
    `keep_buckets_within_cap` instead of per ingest.

    ``base_index``: (base_doc_id, band_idx, band_hash) — `lsh_banded`
    output over the corpus, persistable bucketed on the band key so
    the candidate join plans with zero base-side exchanges (pinned in
    tests/test_bucketed.py). ``base_shingles``: (base_doc_id, _sh_b
    array<string>) — the shingle sets for exact-Jaccard verify,
    persistable bucketed on base_doc_id likewise. The per-ingest cost
    is therefore: new-batch signatures + cross-side band collisions +
    candidate-bounded verify joins; the corpus is never re-scanned.
    This is also the per-micro-batch body of the STREAMING incremental
    dedup (`streaming/neardup.py`), where the artifacts are computed
    once at stream start and every trigger joins against them.

    ``new_index`` (r14): a precomputed (new_doc_id, band_idx,
    band_hash) table for the NEW side, when the caller already has one
    — e.g. both sides were banded in a single fused pipeline because
    they are filters of the same parent table
    (`neardup_incremental_batch`). Must be `lsh_banded` output over
    ``new_df`` with the same banding parameters; None (default)
    computes it here.
    """
    bn = (
        new_index
        if new_index is not None
        else lsh_banded(
            new_df, id_col, text_col,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
            hash_family=hash_family,
        ).select(F.col(id_col).alias("new_doc_id"), "band_idx", "band_hash")
    )
    if max_base_bucket_size is not None:
        base_index = keep_buckets_within_cap(
            base_index, max_base_bucket_size
        )
    cands = (
        bn.join(base_index, on=["band_idx", "band_hash"])
        .filter(F.col("new_doc_id") != F.col("base_doc_id"))
        .select("new_doc_id", "base_doc_id")
        .distinct()
    )
    # Materialized once (r13): feeds both verify-side semi-joins
    # below plus the fetch joins — without this the whole
    # cross-side band join recompiles into each consumer. Routed
    # through the injectable seam (r14): local ckpt for bench/tests,
    # reliable checkpoint files under SPARK_GRAFT_CHECKPOINT_DIR.
    cands = materialize_once(cands)
    # Build/fetch shingle sets ONLY for docs in a candidate pair (r13,
    # guide §8): the id semi-joins prune both sides before the
    # array-building projection / artifact fetch — candidates ≪ corpus
    # at every scale (see `_fetch_candidate_shingles`).
    sn = new_df.join(
        cands.select(F.col("new_doc_id").alias(id_col)), id_col, "left_semi"
    ).select(
        F.col(id_col).alias("_sid"), shingles(text_col, shingle_n).alias("_sh_a")
    )
    sb = base_shingles.join(
        cands.select("base_doc_id"), "base_doc_id", "left_semi"
    )
    j = (
        cands.join(sn, on=F.col("new_doc_id") == F.col("_sid")).drop("_sid")
        .join(sb, on="base_doc_id")
    )
    return (
        j.select("new_doc_id", "base_doc_id", _jaccard("_sh_a", "_sh_b").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def corpus_overlap_minhash(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str,
    *,
    num_hashes: int = 64,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Estimate the SHINGLE-SET Jaccard between two whole corpora from
    corpus-level MinHash signatures — the dedup PLANNING sketch (r10):
    before paying for a cross-corpus near-dup pass over two 100 TB
    crawls, one cheap scan of each answers "do these overlap enough to
    bother?". The classic MinHash estimator (Broder '97) at corpus
    granularity: sig_i(corpus) = min over ALL its shingles of h_i, and
    P[sig_i(A) == sig_i(B)] = J(A, B), so the fraction of agreeing
    components estimates the Jaccard with stderr ~ sqrt(J(1-J)/H).

    Output: one row — (n_hashes, n_agree, jaccard_est), the estimate
    being one float division of exact integers. Corpora with no
    shingles at all (empty/NULL texts only) yield NULL minima, which
    count as non-agreements.

    Scale shape: one scan + one GLOBAL min-aggregate per corpus (fully
    map-side combinable — the reduce side sees num_hashes values per
    partition); the comparison is a 1-row × 1-row broadcast cross
    join. Nothing is ever joined at shingle granularity; the exact
    intersection/union this estimates would shuffle every distinct
    shingle of both corpora. Same seeded families as
    `minhash_signatures` (portable md5 family → DuckDB-replayable).
    """

    def sig(df: DataFrame, prefix: str) -> DataFrame:
        base = parallelize_small_scan(
            df.filter(F.col(text_col).isNotNull()).select(text_col),
            text_col,
        )
        ex = base.select(
            F.explode(shingles(text_col, shingle_n)).alias("_sh")
        )
        return _seeded_minima(ex, hash_family, num_hashes, prefix, None)

    agree = sum(
        F.when(F.col(f"_a{i}") == F.col(f"_b{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    ).cast("long")
    return (
        sig(df_a, "_a")
        .crossJoin(F.broadcast(sig(df_b, "_b")))
        .select(
            F.lit(num_hashes).cast("long").alias("n_hashes"),
            agree.alias("n_agree"),
            (agree.cast("double") / F.lit(float(num_hashes))).alias(
                "jaccard_est"
            ),
        )
    )


def lsh_bucket_skew_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Per-band bucket-skew diagnostics for the LSH index — the check
    a 100 TB deployment runs BEFORE the band join (r10).

    The band equi-join's cost is Σ over buckets of c·(c−1)/2: bounded
    by collisions on healthy data, but one DEGENERATE bucket — a
    boilerplate family hashing thousands of near-identical docs into
    the same (band_idx, band_hash) — silently turns the join quadratic
    in that bucket. This report makes the hazard visible as data, per
    band: bucket count, the largest bucket, how many docs collide at
    all, and the exact candidate-pair total the join would generate.
    Run it on the `lsh_banded` artifact; alert on ``max_bucket_size``
    / ``candidate_pairs`` before paying for the join (the remediation
    is upstream: `paragraph_dedup_boilerplate` / exact dedup first).

    Scale shape: two map-side-combined aggregates over the band index
    (rows = docs × bands, ~50 B each), output exactly ``bands`` rows;
    pair counts are exact BIGINT (c·(c−1) is even, so the /2 is an
    integer division with no remainder).
    """
    b = lsh_banded(
        df, id_col, text_col,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        hash_family=hash_family,
    )
    return lsh_index_skew_report(b)


def lsh_index_skew_report(banded: DataFrame) -> DataFrame:
    """`lsh_bucket_skew_report` over an EXISTING band index — the form
    a deployment runs on its persisted `lsh_banded` artifact (or the
    ingest stream runs on its just-folded index, `streaming/neardup.py`
    ``skew_check``) without re-banding the corpus. Input needs
    (band_idx, band_hash) columns; extra columns pass through the
    count. Same exact-BIGINT pair arithmetic as the corpus form."""
    c = F.col("_c")
    buckets = banded.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("_c")
    )
    return (
        buckets.groupBy(F.col("band_idx").cast("long").alias("band_idx"))
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max(c).alias("max_bucket_size"),
            F.sum(F.when(c > 1, c).otherwise(F.lit(0).cast("long"))).alias(
                "colliding_docs"
            ),
            # integer DIV keeps the pair count exact at any magnitude
            # (c·(c−1) is even) — a float /2 would round past 2^53
            F.expr("sum(_c * (_c - 1) DIV 2)").alias("candidate_pairs"),
        )
        .orderBy("band_idx")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash + LSH banding: candidate near-dup pairs, no cross join.

    Pipeline: shingle-explode → minhash aggregate (`minhash_signatures`)
    → hash each band of ``num_hashes/bands`` minima → posexplode to
    (band_idx, band_hash) keys → self-equi-join on the band key →
    distinct candidate pairs (Broder '97 banding). At 100 TB the band
    hash is a well-distributed join key and no executor ever sees the
    full corpus.

    ``max_bucket_size`` (off by default) bounds the one remaining
    100 TB hazard — a DEGENERATE bucket where a boilerplate family
    collapses thousands of docs into one (band_idx, band_hash) and the
    self-join goes quadratic in that bucket. With a cap, over-cap
    buckets are dropped before the join via `keep_buckets_within_cap`
    (see its recall contract); audit a candidate cap first with
    `lsh_capped_drop_report`.

    ``hash_family="md5"`` makes the whole pipeline DuckDB-reproducible
    (band key = md5 of the comma-joined minima); ``"xxhash64"`` is the
    fast default for production runs.

    Output: (doc_id_a, doc_id_b) candidate pairs (doc_id_a < doc_id_b).
    Verify candidates with `jaccard_pairs_blocked` on the candidate set.
    """
    banded = lsh_banded(
        df,
        id_col,
        text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        hash_family=hash_family,
    )
    # Materialize the band index ONCE before the self-join (r13, guide
    # §1.2/§2.4): without this the whole signature pipeline (shingle
    # explode → per-shingle hash → 64-min aggregate → banding) is
    # compiled into BOTH join sides and EXECUTED TWICE — the plan
    # showed 2 parquet scans / 6 HashAggregates / 0 ReusedExchange.
    # A lazy materialization stores the (id, band_idx, band_hash) rows
    # (the small index representation, ~bands rows/doc) at first use;
    # both join sides then scan the stored RDD. Lazy, so plan-census
    # tooling that never executes still compiles without running jobs.
    # Via the injectable seam (r14): cluster runs set
    # SPARK_GRAFT_CHECKPOINT_DIR for executor-loss-safe checkpoint
    # files (or persist the banded index explicitly —
    # `lsh_index_append` consumes it prebuilt).
    banded = materialize_once(banded)
    if max_bucket_size is not None:
        banded = keep_buckets_within_cap(banded, max_bucket_size)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_hash") == F.col("b.band_hash"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_id_a"),
            F.col(f"b.{id_col}").alias("doc_id_b"),
        )
        .distinct()
    )


def _fetch_candidate_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    cands: DataFrame,
) -> DataFrame:
    """Attach both sides' shingle sets to the (doc_id_a, doc_id_b)
    candidate pairs — the shared verify-fetch stage of
    `neardup_lsh_verified` / `containment_lsh_verified`.

    The shingle tables are built ONLY for documents that appear in a
    candidate pair (r13, guide §8 "decide with small rows"): a cheap
    id semi-join prunes the corpus BEFORE the array-building
    projection, instead of materializing every document's shingle set
    into each fetch join's hash relation. At sf0.1 that is 257
    candidate pairs against 5,000 docs — measured 1.81 -> 0.30 s for
    the whole verified query; at 100 TB candidates ≪ corpus by many
    more orders. The candidate set itself is materialized once
    (`materialize_once` seam) since it feeds both semi-joins and the
    outer fetch join.
    """
    cands = materialize_once(cands)

    def side(pair_col: str, out_col: str) -> DataFrame:
        ids = cands.select(F.col(pair_col).alias(id_col))
        src = df.join(ids, id_col, "left_semi")
        return src.select(
            F.col(id_col).alias("_sid"),
            shingles(text_col, shingle_n).alias(out_col),
        )

    return (
        cands.join(
            side("doc_id_a", "_sh_a"), on=F.col("doc_id_a") == F.col("_sid")
        )
        .drop("_sid")
        .join(side("doc_id_b", "_sh_b"), on=F.col("doc_id_b") == F.col("_sid"))
        .drop("_sid")
    )


def neardup_lsh_verified(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The scale-safe near-dup pipeline: LSH candidates → exact verify.

    Composition of `minhash_lsh_candidates` (banded equi-join, never
    all-pairs) with an exact shingle-Jaccard check on the candidate set
    only. This is the 100 TB shape: pair generation is bounded by band
    collisions (O(near-dups), not O(block²)), and the verify is two
    equi-joins on doc id to fetch shingle sets for candidate rows only.
    Use this instead of `jaccard_pairs_blocked` whenever no natural
    high-cardinality blocking key exists.

    Output: (doc_id_a, doc_id_b, jaccard) with jaccard ≥ threshold,
    where jaccard is the exact distinct-shingle Jaccard (the quantity
    MinHash estimates, so candidate recall maps directly to it).
    """
    cands = minhash_lsh_candidates(
        df,
        id_col,
        text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        hash_family=hash_family,
        max_bucket_size=max_bucket_size,
    )
    j = _fetch_candidate_shingles(df, id_col, text_col, shingle_n, cands)
    return (
        j.select("doc_id_a", "doc_id_b", _jaccard("_sh_a", "_sh_b").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_lsh_verified(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup detection: max-containment
    |A∩B| / min(|A|, |B|) over LSH candidate pairs — the partial-dup
    signal symmetric Jaccard misses (a quoted article inside a longer
    page, a boilerplate block wrapping fresh text: containment ≈ 1
    while Jaccard can sit far below any dedup threshold).

    Candidate generation reuses the MinHash band join, so the recall
    contract is explicit: containment pairs are surfaced when their
    JACCARD still collides in some band (near-sized partial dups — the
    common boilerplate case). A tiny document buried in a huge one has
    vanishing Jaccard and will not collide; exhaustive containment
    search needs a shingle inverted index (pair generation ∝ posting
    lists, quadratic on hot shingles), which is a different cost
    regime — this composition stays band-collision-bounded on purpose.
    Since containment ≥ Jaccard always, the result at threshold t is a
    superset of `neardup_lsh_verified`'s at t.

    Output: (doc_id_a, doc_id_b, containment), doc_id_a < doc_id_b,
    containment = exact distinct-shingle ratio rounded to 4 places.
    """
    cands = minhash_lsh_candidates(
        df, id_col, text_col,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        hash_family=hash_family, max_bucket_size=max_bucket_size,
    )
    j = _fetch_candidate_shingles(df, id_col, text_col, shingle_n, cands)
    inter = F.size(F.array_intersect(F.col("_sh_a"), F.col("_sh_b")))
    smaller = F.least(F.size("_sh_a"), F.size("_sh_b"))
    cont = F.round(inter.cast("double") / smaller.cast("double"), 4)
    return (
        j.select("doc_id_a", "doc_id_b", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def simhash_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = " ",
    *,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash fingerprints (Charikar '02): (id, fp) rows.

    Explode tokens → hash per token → one hash-aggregate computing the
    per-bit +1/-1 votes → assemble the fingerprint from vote signs.
    Flat expressions, one shuffle on the id, map-side combined.

    ``hash_family="xxhash64"`` (default) gives a 64-bit fingerprint;
    ``"md5"`` gives a 60-bit fingerprint from the portable `md5_long`
    hash — non-negative on both engines, so the whole pipeline
    (fingerprint, bands, hamming distance) is DuckDB-reproducible.
    """
    n_bits = simhash_bits(hash_family)
    ex = parallelize_small_scan(df, id_col).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), sep)).alias("_tok")
    )
    if hash_family == "md5":
        h = ex.select(F.col(id_col), md5_long(F.col("_tok")).alias("_h"))
    elif hash_family == "xxhash64":
        h = ex.select(F.col(id_col), F.xxhash64(F.col("_tok")).alias("_h"))
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    # Vote and fingerprint expressions as single F.expr strings (r13):
    # the per-bit Column chains were ~900 driver Py4J round-trips per
    # query construction (see `_seeded_minima`'s note); the SQL parses
    # to identical expressions — shiftleft(1L, 63) wraps to Long.MIN
    # exactly as the old -(1<<63) literal did.
    votes = h.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(_h, {i}) & 1) = 1 "
                "THEN 1 ELSE -1 END)"
            ).alias(f"_v{i}")
            for i in range(n_bits)
        ]
    )
    fp = F.expr(
        " + ".join(
            f"(CASE WHEN _v{i} > 0 THEN shiftleft(CAST(1 AS BIGINT), {i}) "
            "ELSE CAST(0 AS BIGINT) END)"
            for i in range(n_bits)
        )
    )
    return votes.select(F.col(id_col), fp.alias("fp"))


def simhash_bits(hash_family: str) -> int:
    """Fingerprint width per family: 64 for xxhash64, 60 for md5 (15
    hex digits keep the value non-negative in an int64 cross-engine)."""
    return 60 if hash_family == "md5" else 64


def simhash_neardup_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    band_bits: int = 16,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup candidates: equal fingerprint band → candidate.

    Splitting the fingerprint into 4 bands (16 bits each at 64-bit, 15
    at the portable 60-bit width) guarantees any pair within hamming
    distance 3 shares at least one full band (pigeonhole) — the classic
    SimHash index, as a posexplode + equi-join.
    """
    n_bits = simhash_bits(hash_family)
    if n_bits == 60 and band_bits == 16:
        band_bits = 15
    n_bands = n_bits // band_bits
    fp = simhash_fingerprints(df, id_col, text_col, hash_family=hash_family)
    banded = fp.select(
        F.col(id_col),
        F.col("fp"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("fp"), i * band_bits).bitwiseAND(
                        F.lit((1 << band_bits) - 1)
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    # Same double-compute elimination as `minhash_lsh_candidates`
    # (r13): materialize the band rows once; both self-join sides scan
    # the stored index instead of re-running the fingerprint pipeline.
    banded = materialize_once(banded)
    a, b = banded.alias("a"), banded.alias("b")
    pairs = a.join(
        b,
        on=[
            F.col("a.band_idx") == F.col("b.band_idx"),
            F.col("a.band_val") == F.col("b.band_val"),
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
        ],
    ).select(
        F.col(f"a.{id_col}").alias("doc_id_a"),
        F.col(f"b.{id_col}").alias("doc_id_b"),
        F.col("a.fp").alias("fp_a"),
        F.col("b.fp").alias("fp_b"),
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return pairs.distinct().select(
        "doc_id_a", "doc_id_b", hamming.alias("hamming_distance")
    )


def remove_cross_doc_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
    sep: str = " ",
) -> DataFrame:
    """Exact-substring span REMOVAL — the rewrite half of Lee et al.
    2022 ("Deduplicating Training Data Makes Language Models Better"):
    every token covered by an n-gram that occurs verbatim in ≥ 2
    distinct documents is dropped, and the document is reassembled
    from the surviving tokens. `text.cross_doc_dup_ngrams` scores the
    duplication; this operator performs the surgery — shared license
    headers, navigation chrome and syndicated passages vanish from
    every document that carries them, while each document's unique
    prose survives. (Lee et al. use a suffix array over the
    concatenated corpus; the n-gram-anchored formulation is the
    shuffle-bounded distributed equivalent — any duplicated substring
    of length ≥ n is a run of duplicated n-grams, so its interior is
    covered; at most n−1 boundary tokens of a shared span survive.)

    Output: (id, n_tokens, n_removed_tokens, clean_text). Documents
    shorter than ``n`` tokens pass through untouched; a fully-covered
    document yields clean_text = ''.

    Plan — same join-attach discipline as the scoring op:
      1. (id, start, gram) occurrences ride the pre-explode
         repartition(id);
      2. grams with ≥ 2 distinct docs come from a distinct+count
         branch, attached by equi-join on gram (never a gram window —
         hot boilerplate grams are skew-splittable join keys);
      3. covered positions = explode(sequence(start, start+n−1)),
         deduped and collect_set-ed per doc — one id-shuffle;
      4. the rebuild is pure codegen: a two-arg transform tags each
         token with its 1-based position, filter drops tagged tokens
         whose position is in the covered set, concat_ws rejoins.
    No windows, no Python, no corpus-wide broadcast.
    """
    toks = F.split(F.col(text_col), sep)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.struct(
                i.alias("start"),
                F.concat_ws(sep, F.slice(toks, i, n)).alias("gram"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<start:int,gram:string>>"))

    base = parallelize_small_scan(df.select(id_col, text_col), id_col)
    occurrences = base.select(
        F.col(id_col), F.explode(grams).alias("g")
    ).select(F.col(id_col), F.col("g.start").alias("start"), F.col("g.gram").alias("gram"))

    dup_grams = (
        occurrences.select(id_col, "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("gram_docs"))
        .filter(F.col("gram_docs") >= 2)
        .select("gram")
    )

    covered = (
        occurrences.join(dup_grams, "gram")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("start"), F.col("start") + (n - 1))
            ).alias("pos"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("_cov"))
    )

    joined = base.join(covered, id_col, "left").withColumn(
        "_cov", F.coalesce(F.col("_cov"), F.array().cast("array<int>"))
    )
    tagged = F.transform(
        toks, lambda x, i: F.struct(x.alias("tok"), (i + 1).alias("pos"))
    )
    kept = F.filter(
        tagged, lambda s: ~F.array_contains(F.col("_cov"), s["pos"])
    )
    return joined.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size("_cov").cast("long").alias("n_removed_tokens"),
        F.concat_ws(sep, F.transform(kept, lambda s: s["tok"])).alias(
            "clean_text"
        ),
    )


def edit_distance_neardups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    block_cols: list[str],
    len_col: str,
    band_chars: int = 64,
    prefix_chars: int = 48,
    max_dist: int = 12,
) -> DataFrame:
    """Edit-distance (Levenshtein) near-duplicate pairs under blocked
    comparison — the character-level fuzzy dedup that catches what
    token-set methods miss (typo variants, OCR noise, near-identical
    titles), complementing the MinHash/SimHash ladder.

    Scale design, three multiplied bounds:
    * BLOCKING: candidates pair only within block_cols and within
      ``band_chars`` characters of each other in ``len_col``. The
      length constraint is exact (VERDICT r10 #2 closed: the old
      band-EQUALITY join silently dropped boundary-straddling pairs,
      e.g. lengths 63 vs 65 with band 64): each left row probes its
      own ``len div band_chars`` band AND the next one (a 2-row
      explode, so the join stays a single hash equi-join — an OR of
      band equalities would degrade to a nested-loop), then an exact
      ``|len_a − len_b| <= band_chars`` residual filter trims the
      adjacent-band excess. At most 2x the candidates of the equality
      join, recall now matches the stated contract. Block sizes bound
      the quadratic term exactly like `jaccard_pairs_blocked`; corpora
      with pathological blocks sub-block on a content prefix first.
    * PREFIX CAP: the DP runs on ``prefix_chars`` characters, bounding
      per-pair cost at prefix² regardless of document length (title/
      lead dedup semantics — the first 48 chars ARE the identity for
      near-identical documents).
    * THRESHOLDED DP: Spark's three-arg ``levenshtein(l, r, t)``
      runs the banded O(t·min(m,n)) algorithm and returns −1 above
      the threshold, so the common far-apart pair exits early.

    Both engines implement textbook Levenshtein, so the full pipeline
    (blocking → capped distance → threshold) is DuckDB-oracled; the
    NULL contract filters text/length/block NULLs in both engines (a
    NULL has no identity to compare).

    Output: (id_a, id_b, edit_dist), id_a < id_b, distinct.
    """
    probe = F.lit(False)
    for c in (text_col, len_col, *block_cols):
        probe = probe | F.col(c).isNull()
    # The banded-DP probe must not inherit a few-partition scan: at
    # sf0.1 the single-row-group parquet left the broadcast join's
    # probe side (where every candidate pays the levenshtein) running
    # in ONE task while 31 cores idled — measured 4.48 -> 0.60 s with
    # the repartition (r13, guide §2.6 stragglers). No-op at scale,
    # where the scan already exceeds defaultParallelism.
    base = parallelize_small_scan(df.filter(~probe), id_col).select(
        F.col(id_col),
        *block_cols,
        F.col(len_col).cast("long").alias("_len"),
        F.expr(f"{len_col} div {band_chars}").alias("_band"),
        F.lower(F.substring(F.col(text_col), 1, prefix_chars)).alias("_pfx"),
    )
    # Left side probes its own band and the next: a same-band pair
    # surfaces once under id_a < id_b; an adjacent-band pair surfaces
    # exactly once (shorter doc's band+1 row meets the longer doc) with
    # arbitrary id order, canonicalized by least/greatest below.
    a = base.select(
        *[F.col(c).alias(f"_ba_{c}") for c in block_cols],
        F.explode(F.array(F.col("_band"), F.col("_band") + F.lit(1))).alias(
            "_band_a"
        ),
        F.col("_band").alias("_own_band_a"),
        F.col("_len").alias("_len_a"),
        F.col(id_col).alias("id_a"),
        F.col("_pfx").alias("_pfx_a"),
    )
    b = base.select(
        *[F.col(c).alias(f"_bb_{c}") for c in block_cols],
        F.col("_band").alias("_band_b"),
        F.col("_len").alias("_len_b"),
        F.col(id_col).alias("id_b"),
        F.col("_pfx").alias("_pfx_b"),
    )
    cond = F.col("_band_a") == F.col("_band_b")
    for c in block_cols:
        cond = cond & (F.col(f"_ba_{c}") == F.col(f"_bb_{c}"))
    return (
        a.join(b, on=cond)
        .filter(
            (
                (F.col("_own_band_a") != F.col("_band_b"))
                | (F.col("id_a") < F.col("id_b"))
            )
            & (F.abs(F.col("_len_a") - F.col("_len_b")) <= F.lit(band_chars))
        )
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            F.levenshtein(
                F.col("_pfx_a"), F.col("_pfx_b"), max_dist
            ).alias("edit_dist"),
        )
        .filter(F.col("edit_dist") >= 0)
        .dropDuplicates(["id_a", "id_b"])
    )


def _prefix_elems(text_col: str, sep: str, shingle_n: int | None) -> Column:
    return (
        _token_set(text_col, sep)
        if shingle_n is None
        else shingles(text_col, shingle_n, sep)
    )


def _check_threshold_pct(threshold_pct: int) -> int:
    if not 1 <= int(threshold_pct) <= 100:
        raise ValueError(
            f"threshold_pct must be an integer percent in [1, 100], "
            f"got {threshold_pct}"
        )
    return int(threshold_pct)


def _prefix_sets(
    df: DataFrame, id_col: str, text_col: str, sep: str,
    shingle_n: int | None,
) -> DataFrame:
    # Materialized ONCE (lazy — r13, guide §1.2/§2.4): a side's set
    # table feeds up to FOUR consumers (the df-frequency aggregate, the
    # prefix table on each self-join side, and the two verify set
    # fetches), and Spark inlines the subtree into each, so the
    # upstream distinct + tokenize pipeline was compiled and EXECUTED
    # up to 6x per query (plan showed 6 parquet scans). The r13 A/B
    # that REJECTED checkpointing the exploded prefix table (see
    # `prefix_filter_neardups`) accepts it here: sets are one row per
    # doc (the narrow artifact), and the measured win is exact
    # 4.86 -> 3.01 s / incremental 3.99 -> 2.29 s at sf0.1. In
    # production these rows ARE the persisted PrefixIndex artifact.
    # serialized=True (r13): the deserialized default would hold
    # millions of live token-String objects per block (each doc's full
    # element array), which inflates every GC for the rest of the
    # session; serialized blocks are a few compact byte arrays. The
    # per-consumer deserialization is one codegen-adjacent pass over
    # rows the consumer was reading anyway.
    return materialize_once(
        df.select(
            F.col(id_col).alias("_pid"),
            _prefix_elems(text_col, sep, shingle_n).alias("toks"),
        ).filter(F.col("_pid").isNotNull() & F.col("toks").isNotNull()),
        serialized=True,
    )


def _prefix_table(
    side_sets: DataFrame, dft: DataFrame, t_pct: int, *, how: str = "inner"
) -> DataFrame:
    """One side's prefix rows (_pid, _n, tok): elements ordered under
    the GIVEN df table, prefix length |x| − ⌈t·|x|⌉ + 1 — exact
    integer ceil. ``how="inner"`` when every element is known to be in
    the df table (a corpus ordered by its OWN frequencies — the inner
    join is semantically identical and measurably cheaper);
    ``how="left"`` when elements may be absent (a NEW batch under the
    frozen base order), ranking them rarest at df 0."""
    toks = side_sets.select("_pid", F.explode("toks").alias("tok"))
    ordered = (
        toks.join(dft, "tok", how)
        .select(
            "_pid",
            "tok",
            F.coalesce(F.col("_dfc"), F.lit(0).cast("long")).alias("_dfc"),
        )
        .groupBy("_pid")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("_dfc"), F.col("tok")))
            ).alias("_ord")
        )
        .select(
            "_pid",
            F.transform(F.col("_ord"), lambda s: s["tok"]).alias("_otoks"),
        )
    )
    plen = (
        F.size("_otoks")
        - F.expr(f"({t_pct} * size(_otoks) + 99) DIV 100")
        + F.lit(1)
    )
    # _pos is the element's 1-based position in the FULL ordered list
    # (prefix = first plen elements, so prefix positions ARE full-list
    # positions) — it feeds the PPJoin positional filter in
    # `_prefix_candidates`.
    return ordered.select(
        "_pid",
        F.size("_otoks").alias("_n"),
        F.posexplode(F.slice(F.col("_otoks"), 1, plen)).alias("_pos0", "tok"),
    ).select(
        "_pid", "_n", "tok", (F.col("_pos0") + F.lit(1)).alias("_pos")
    )


def _prefix_candidates(
    left_pref: DataFrame,
    right_pref: DataFrame,
    t_pct: int,
    left_id: str,
    right_id: str,
    *,
    pair_filter: Column | None = None,
) -> DataFrame:
    """prefix ⋈ prefix candidate generation under the size filter —
    sufficient for recall 1 by the prefix-filter lemma: the FIRST
    common element in the global order lies in BOTH prefixes (if it
    missed y's prefix, all common elements would sit in y's suffix, so
    |x∩y| ≤ ⌈t·|y|⌉−1 < t·|y| ≤ t/(1+t)·(|x|+|y|) given the size
    filter — contradiction; symmetrically for x).

    PPJoin positional refinement (Xiao et al., VERDICT r10 #3; recall
    still 1): for a pair's FIRST common prefix element, at positions
    (i, j) of the two FULL ordered lists, no common element precedes
    it — any earlier common element would rank earlier in the global
    order and hence sit in BOTH prefixes (prefixes are order-closed
    downward), contradicting firstness. So the true overlap is at most
    1 + min(|x|−i, |y|−j); pairs whose bound misses the required
    overlap α = ⌈t·(|x|+|y|)/(100+t)⌉ (exact integer ceil of
    t/(1+t)·(|x|+|y|)) are pruned BEFORE the verify fetches their
    element sets. The first hit is the (min i, min j) row — hit
    positions co-ascend with the global order — so the old
    distinct() becomes a min-struct aggregate: same shuffle, fewer
    verify rows."""
    a = left_pref.select(
        F.col("_pid").alias(left_id), F.col("_n").alias("_na"),
        F.col("_pos").alias("_pa"), "tok",
    )
    b = right_pref.select(
        F.col("_pid").alias(right_id), F.col("_n").alias("_nb"),
        F.col("_pos").alias("_pb"), "tok",
    )
    j = a.join(b, "tok").filter(
        (F.col("_na") * 100 >= F.col("_nb") * t_pct)
        & (F.col("_nb") * 100 >= F.col("_na") * t_pct)
    )
    if pair_filter is not None:
        j = j.filter(pair_filter)
    first = j.groupBy(left_id, right_id, "_na", "_nb").agg(
        F.min(
            F.struct(F.col("_pa").alias("_pa"), F.col("_pb").alias("_pb"))
        ).alias("_f")
    )
    alpha = F.expr(
        f"(({t_pct} * (_na + _nb)) + {100 + t_pct} - 1) DIV {100 + t_pct}"
    )
    ubound = F.lit(1) + F.least(
        F.col("_na") - F.col("_f._pa"), F.col("_nb") - F.col("_f._pb")
    )
    return first.filter(ubound >= alpha).select(left_id, right_id)


def _verify_jaccard(
    cands: DataFrame,
    left_sets: DataFrame,
    right_sets: DataFrame,
    t_pct: int,
    left_id: str,
    right_id: str,
) -> DataFrame:
    j = (
        cands.join(
            left_sets.select(
                F.col("_pid").alias(left_id), F.col("toks").alias("_ta")
            ),
            left_id,
        )
        .join(
            right_sets.select(
                F.col("_pid").alias(right_id), F.col("toks").alias("_tb")
            ),
            right_id,
        )
    )
    return j.select(left_id, right_id, _jaccard("_ta", "_tb").alias("jaccard")).filter(
        F.col("jaccard") >= F.lit(t_pct / 100.0)
    )


def prefix_filter_neardups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold_pct: int = 80,
    sep: str = " ",
    shingle_n: int | None = None,
) -> DataFrame:
    """EXACT all-pairs element-set Jaccard >= threshold over the whole
    corpus — no blocking key, no LSH approximation, no O(n²): the
    prefix-filtering similarity join (Chaudhuri et al. SSJoin ICDE'06;
    Bayardo et al. AllPairs WWW'07; Xiao et al. PPJoin). The third leg
    of the near-dup family: `jaccard_pairs_blocked` is exact but needs
    a natural blocking key, `neardup_lsh_verified` is unblocked but
    its candidate RECALL is probabilistic; this is unblocked AND
    provably complete.

    Why it works: order every document's elements by ascending corpus
    document-frequency (rarest first, ties by element). Candidates =
    the prefix ⋈ prefix equi-join under the size filter
    t·|x| <= |y| <= |x|/t, which has perfect recall by the
    prefix-filter lemma (`_prefix_candidates`), further pruned by the
    PPJoin positional bound (first-hit overlap upper bound vs the
    required-overlap α — see `_prefix_candidates`; measured at sf0.1
    documents, shingle_n=3, t=80: candidate pairs 43,543 → 12,784,
    −71%, full-query wall 10.1 s → ~7.6 s on local[32]); the exact
    verify on candidates makes precision perfect too.

    Scale shape: prefixes hold only each document's RAREST elements,
    so the candidate join's per-key fan-out is bounded by rare-element
    document frequencies — stopword posting lists never enter any
    join. One element-frequency aggregate, one ordered regroup per
    side of the self-join, the prefix equi-join, two id-joins fetching
    element sets for the verify. All codegen; no Python, no cartesian.
    Duplicate (id, text) rows must be collapsed upstream (the caller's
    PK contract, as with the LSH family).

    ``shingle_n`` switches the set elements from word tokens to word
    n-gram shingles — the SAME quantity `neardup_lsh_verified`
    estimates-then-verifies, so with equal thresholds the LSH path's
    output is a subset of this one's by construction. Word-token mode
    suits short/structured records; shingle mode is the document
    setting (word-set Jaccard saturates on big shared vocabularies).

    Output: (doc_id_a, doc_id_b, jaccard) with doc_id_a < doc_id_b and
    exact distinct-element jaccard >= threshold, rounded to 4 decimals
    (the `jaccard_pairs_blocked` convention).
    """
    t_pct = _check_threshold_pct(threshold_pct)
    sets = _prefix_sets(df, id_col, text_col, sep, shingle_n)
    dft = (
        sets.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("_dfc"))
    )
    # The PREFIX table is NOT checkpointed (r13 A/B): materializing it
    # for the self-join — the `minhash_lsh_candidates` fix — measured
    # 15-30% SLOWER here. The prefix rows are an exploded token table
    # (far wider than the banded LSH index), so storing + twice
    # re-scanning them costs more than recomputing the codegen
    # pipeline. What IS materialized once is the upstream SETS table
    # (`_prefix_sets`): one row per doc, shared by all consumers.
    pref = _prefix_table(sets, dft, t_pct)
    cands = _prefix_candidates(
        pref, pref, t_pct, "_ida", "_idb",
        pair_filter=F.col("_ida") < F.col("_idb"),
    )
    return _verify_jaccard(cands, sets, sets, t_pct, "_ida", "_idb").select(
        F.col("_ida").alias("doc_id_a"),
        F.col("_idb").alias("doc_id_b"),
        "jaccard",
    )


class PrefixIndex:
    """The base corpus's persistable EXACT-join artifacts under its own
    frozen df order, plus the parameters they were built with — so a
    mismatched tokenization or threshold at query time is impossible
    rather than a silent zero-match (code-review r10). Fields: ``dft``
    (element → base document frequency), ``prefix`` (prefix rows),
    ``sets`` (element sets for the verify)."""

    __slots__ = ("dft", "prefix", "sets", "threshold_pct", "sep", "shingle_n")

    def __init__(self, dft, prefix, sets, threshold_pct, sep, shingle_n):
        self.dft = dft
        self.prefix = prefix
        self.sets = sets
        self.threshold_pct = threshold_pct
        self.sep = sep
        self.shingle_n = shingle_n


def build_prefix_index(
    base_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold_pct: int = 80,
    sep: str = " ",
    shingle_n: int | None = None,
) -> PrefixIndex:
    """Build the base corpus's `PrefixIndex` — in production, bucketed
    parquet artifacts maintained by the batch pipeline (the
    `lsh_banded` index pattern); `prefix_filter_against_index` mines
    any new batch against it, paying only the new side's prefix
    computation."""
    t_pct = _check_threshold_pct(threshold_pct)
    base_sets = _prefix_sets(base_df, id_col, text_col, sep, shingle_n)
    dft = (
        base_sets.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("_dfc"))
    )
    prefix = _prefix_table(base_sets, dft, t_pct)
    return PrefixIndex(dft, prefix, base_sets, t_pct, sep, shingle_n)


def prefix_filter_against_index(
    new_df: DataFrame,
    index: PrefixIndex,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Mine a NEW batch against a prebuilt `PrefixIndex` — the
    steady-state ingest shape. Tokenization, threshold, and separator
    come FROM the index (they must match what it was built with, so
    they are not re-specifiable here). Candidates = prefix(new) ⋈
    prefix(base) under the size filter — recall 1 by the prefix-filter
    lemma, since the frozen base-df order is one fixed global order
    for both sides; exact verify on candidates only. Output
    (new_doc_id, base_doc_id, jaccard >= threshold)."""
    t_pct = index.threshold_pct
    new_sets = _prefix_sets(new_df, id_col, text_col, index.sep, index.shingle_n)
    pref_new = _prefix_table(new_sets, index.dft, t_pct, how="left")
    cands = _prefix_candidates(
        pref_new, index.prefix, t_pct, "_idn", "_idb"
    )
    return _verify_jaccard(
        cands, new_sets, index.sets, t_pct, "_idn", "_idb"
    ).select(
        F.col("_idn").alias("new_doc_id"),
        F.col("_idb").alias("base_doc_id"),
        "jaccard",
    )


def prefix_filter_between(
    new_df: DataFrame,
    base_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold_pct: int = 80,
    sep: str = " ",
    shingle_n: int | None = None,
) -> DataFrame:
    """EXACT incremental similarity join: every (new, base) pair with
    Jaccard >= threshold — the deterministic counterpart of
    `neardup_lsh_between`, exactly as `prefix_filter_neardups` is the
    counterpart of `neardup_lsh_verified`. No new×new, no base×base,
    recall provably 1.

    The global element order is the BASE corpus's document frequency
    (rarest first, ties by element; elements unseen in the base rank
    rarest at df 0) — ONE frozen order, so the base side's index is a
    persistable artifact (`build_prefix_index`) and a steady-state
    ingest runs `prefix_filter_against_index`, paying only the new
    batch's prefix computation plus one prefix ⋈ prefix candidate
    join. Any fixed global order satisfies the prefix-filter lemma
    (`_prefix_candidates`); freezing the base's keeps the index
    incremental.

    Output: (new_doc_id, base_doc_id, jaccard) with exact
    distinct-element jaccard >= threshold (4-decimal rounding, the
    family convention). Duplicate (id, text) rows must be collapsed
    upstream; ids may overlap between sides — callers with overlapping
    id spaces filter `new_doc_id != base_doc_id` themselves, as with
    the LSH family.
    """
    index = build_prefix_index(
        base_df, id_col, text_col,
        threshold_pct=threshold_pct, sep=sep, shingle_n=shingle_n,
    )
    return prefix_filter_against_index(new_df, index, id_col, text_col)


def prefix_index_append(
    index: PrefixIndex,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
) -> PrefixIndex:
    """Fold a new batch into a `PrefixIndex` WITHOUT rebuilding — the
    `ann_index_append` analog for the exact text near-dup index
    (VERDICT r10 #4: the base artifacts were build-once, so the index
    went stale until a full rebuild).

    Sound because the prefix-filter lemma holds for ANY fixed global
    order: the new docs' set/prefix rows are computed under the FROZEN
    base-df order (elements unseen in the base rank rarest at df 0 —
    `_prefix_table(how="left")`), the same order every existing row
    uses, so recall against the appended index stays exactly 1. What
    drifts is PRUNING EFFICIENCY only: frozen frequencies diverge from
    true ones as the corpus grows, so prefixes slowly stop holding the
    genuinely rarest elements (longer posting lists, more candidates —
    never missed pairs). Watch `prefix_index_drift_report` and rebuild
    (`build_prefix_index` over the grown corpus) when it triggers —
    the `calibration_drift` → re-encode pattern.

    Appended output equals a rebuild in VERIFIED pairs (both have
    recall 1 and the verify is exact; only candidate counts differ) —
    pinned in tests. The returned index shares the frozen ``dft``;
    callers persisting artifacts re-checkpoint ``prefix``/``sets``.
    Duplicate ids across appends are the caller's PK contract, as
    everywhere in the family.
    """
    new_sets = _prefix_sets(
        new_df, id_col, text_col, index.sep, index.shingle_n
    )
    new_pref = _prefix_table(
        new_sets, index.dft, index.threshold_pct, how="left"
    )
    return PrefixIndex(
        index.dft,
        index.prefix.unionByName(new_pref),
        index.sets.unionByName(new_sets),
        index.threshold_pct,
        index.sep,
        index.shingle_n,
    )


def prefix_index_drift_report(
    index: PrefixIndex,
    *,
    growth_tolerance: float = 4.0,
    top_m: int = 20,
) -> DataFrame:
    """Per-element staleness diagnostics for an append-maintained
    `PrefixIndex` — the rebuild trigger (`calibration_drift` pattern,
    `lsh_bucket_skew_report` posture: surface the hazard as data
    BEFORE paying for the join).

    For every element currently appearing in the PREFIX table (the
    only elements that enter the candidate join), compares the frozen
    order's document frequency against the element's LIVE prefix
    posting length. Under the frozen order a boilerplate phrase that
    arrived AFTER the freeze ranks "rarest" (df 0) and lands in every
    new document's prefix — its posting list, and hence the candidate
    join fan-out, grows quadratically while recall silently stays
    perfect. ``needs_rebuild`` flags posting lists past
    ``growth_tolerance`` × their frozen df (frozen df 0 flags on any
    posting ≥ 2, reported as growth = posting count).

    Scale shape: one map-side-combined count over the prefix table,
    one broadcast-sized join against the df table on the element key,
    top-``top_m`` via TakeOrdered — never touches document sets.

    Output: (tok, frozen_dfc, prefix_postings, growth, needs_rebuild),
    the ``top_m`` heaviest posting lists first.
    """
    posts = index.prefix.groupBy("tok").agg(
        F.count(F.lit(1)).alias("prefix_postings")
    )
    joined = posts.join(index.dft, "tok", "left").select(
        "tok",
        F.coalesce(F.col("_dfc"), F.lit(0).cast("long")).alias("frozen_dfc"),
        "prefix_postings",
    )
    growth = F.when(
        F.col("frozen_dfc") > 0,
        F.col("prefix_postings").cast("double") / F.col("frozen_dfc"),
    ).otherwise(F.col("prefix_postings").cast("double"))
    return (
        joined.withColumn("growth", growth)
        .withColumn(
            "needs_rebuild",
            F.when(
                F.col("frozen_dfc") > 0,
                F.col("growth") > F.lit(float(growth_tolerance)),
            ).otherwise(F.col("prefix_postings") >= F.lit(2)),
        )
        .orderBy(F.desc("prefix_postings"), "tok")
        .limit(int(top_m))
    )


def lsh_index_append(
    base_index: DataFrame,
    base_shingles: DataFrame,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """Fold a new batch into the LSH near-dup artifacts (the
    `neardup_against_index` pair: band index + shingle table) without
    rebuilding. Unlike the prefix index there is NO order to freeze —
    band keys are pure content hashes — so append ≡ rebuild EXACTLY,
    row for row, not just pair-for-pair. Banding parameters must match
    the ones the artifacts were built with (same contract as the
    verify threshold: a mismatch is the caller's bug, caught by the
    append≡rebuild parity pin).

    Returns (band index′, shingle table′); callers persisting
    artifacts re-bucket/re-checkpoint as with the originals.
    """
    add_idx = lsh_banded(
        new_df, id_col, text_col,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        hash_family=hash_family,
    ).select(F.col(id_col).alias("base_doc_id"), "band_idx", "band_hash")
    add_sh = new_df.select(
        F.col(id_col).alias("base_doc_id"),
        shingles(text_col, shingle_n).alias("_sh_b"),
    )
    return (
        base_index.unionByName(add_idx),
        base_shingles.unionByName(add_sh),
    )
