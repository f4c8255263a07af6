"""Text-analysis operators for training-data pipelines (north star).

Language ID (stopword-vote heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and document fingerprinting — all as
JVM-side expression pipelines (split / filter / regexp) so they run in
whole-stage codegen at 100 TB; no Python UDF in any hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: tiny per-language stopword lists for the n-gram/stopword-vote
#: language heuristic. Deterministic and SQL-portable by design.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "la", "los", "y", "es"),
    "it": ("il", "lo", "le", "e", "di"),
}

#: BPE-ish tokenizer regex: letter runs, digit runs, or single
#: non-space symbols — the usual pre-tokenization split.
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def tokens(text_col: str | Column, sep: str = " ") -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(c, sep)


def whitespace_token_count(text_col: str | Column) -> Column:
    return F.size(tokens(text_col)).cast("long")


def bpe_token_count(text_col: str | Column) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_count(c, F.lit(BPE_TOKEN_RE)).cast("long")


def stopword_count(text_col: str | Column, stopwords: tuple[str, ...]) -> Column:
    toks = tokens(text_col)
    sw = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast("long")


def quality_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Quality-scoring features: lengths, token stats, stopword ratio.

    Mirrors the standard pre-training quality filters (length bounds,
    symbol ratio, stopword presence). One narrow projection.
    """
    toks = tokens(text_col)
    n_toks = F.size(toks).cast("long")
    n_stop = stopword_count(text_col, LANG_STOPWORDS["en"])
    mean_len = F.aggregate(
        toks, F.lit(0.0), lambda acc, t: acc + F.length(t)
    ) / n_toks.cast("double")
    return df.select(
        F.col(id_col),
        F.length(F.col(text_col)).cast("long").alias("n_chars_computed"),
        n_toks.alias("n_tokens"),
        bpe_token_count(text_col).alias("n_bpe_tokens"),
        n_stop.alias("n_stopwords"),
        # No outer round(): both operands are exactly representable
        # integers, so the IEEE-754 quotient is bit-identical in any
        # engine — while round()-of-a-quotient differs between engines
        # on half-boundary values (Spark rounds the shortest decimal
        # repr, DuckDB the binary value).
        (n_stop.cast("double") / n_toks.cast("double")).alias("stopword_ratio"),
        mean_len.alias("mean_token_len"),
    )


def language_vote(text_col: str | Column) -> tuple[Column, Column]:
    """(predicted_lang, lang_score) column pair for the stopword-vote
    heuristic. Ties break by language code order (deterministic);
    'und' when no list scores a hit."""
    scores = {
        lang: stopword_count(text_col, sw) for lang, sw in sorted(LANG_STOPWORDS.items())
    }
    best_score = F.greatest(*scores.values())
    pred = F.lit("und")
    # reverse order so earlier languages win ties via later when() layering
    for lang in sorted(scores, reverse=True):
        pred = F.when(
            (scores[lang] > 0) & (scores[lang] == best_score), F.lit(lang)
        ).otherwise(pred)
    return pred, best_score


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-vote language ID: argmax over per-language hit counts."""
    pred, best_score = language_vote(text_col)
    return df.select(
        F.col(id_col),
        pred.alias("predicted_lang"),
        best_score.alias("lang_score"),
    )


def normalize(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Text normalization for dedup/training prep: lowercase, strip
    non-alphanumerics to spaces, collapse whitespace runs, trim.

    The canonical pre-pass before exact/minhash dedup — normalizing
    first turns case/punctuation variants into exact duplicates. Pure
    regexp pipeline, one narrow projection.
    """
    norm = normalized_text(text_col)
    return df.select(
        F.col(id_col),
        norm.alias("normalized_text"),
        F.md5(norm).alias("normalized_md5"),
    )


def normalized_text(text_col: str | Column) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(c), "[^a-z0-9 ]", " "), " +", " ")
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str, *, prefix_tokens: int = 16) -> DataFrame:
    """Document fingerprint: md5 over the normalized token prefix.

    A cheap rolling-hash-style identity for clustering/bucketing; md5 so
    external engines can reproduce it bit-for-bit. NULL text has no
    identity and propagates to a NULL fingerprint (SQL semantics —
    ``concat_ws`` would otherwise silently coerce NULL to md5(''), the
    empty document's fingerprint; fuzz-found, r6).
    """
    toks = tokens(F.lower(F.col(text_col)))
    prefix = F.concat_ws(" ", F.slice(toks, 1, prefix_tokens))
    return df.select(
        F.col(id_col),
        F.when(F.col(text_col).isNotNull(), F.md5(prefix)).alias(
            "fingerprint_md5"
        ),
    )


def vocabulary(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    top_k: int = 100,
) -> DataFrame:
    """Corpus vocabulary with term/document frequencies, top-k by
    total term frequency — the tokenizer/BPE-prep and stopword-discovery
    pass of a training pipeline.

    Plan: one token explode → one groupBy(token) computing total_tf
    (count, map-side combinable) and doc_freq (distinct doc ids per
    token — Spark plans the distinct as a two-phase partial aggregate,
    so the explode output is combined before the shuffle). The top-k
    selection is ``orderBy().limit()`` — Spark's TakeOrderedAndProject,
    a distributed per-partition top-k merged on the driver, so the
    full |vocab|-row aggregate never lands in a single partition; only
    the ``top_k`` survivors pass through the rank window. All counts
    are exact integers; deterministic tie-break on the token string.
    """
    from pyspark.sql import Window

    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    agg = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("total_tf"),
        F.countDistinct(F.col(id_col)).alias("doc_freq"),
    )
    order = [F.desc("total_tf"), F.asc("tok")]
    top = agg.orderBy(*order).limit(top_k)
    w = Window.orderBy(*order)
    return (
        top.withColumn("vocab_rank", F.row_number().over(w).cast("int"))
        .select("vocab_rank", "tok", "total_tf", "doc_freq")
    )


def _repartition_by_key(df: DataFrame, key_col: str) -> DataFrame:
    """Hash-repartition by key with an EXPLICIT partition count.

    `repartition(col)` alone lets AQE coalesce the exchange back to
    ONE partition at small data sizes — which serializes the
    compute-heavy gram-explode stages that follow (single-row-group
    parquet can't split, so locally everything would run one-task;
    the same hazard `dedup.parallelize_small_scan` guards). An
    explicit count is never coalesced; max(defaultParallelism,
    current partitions) keeps the count scan-sized at scale, so the
    one-shuffle partitioning-reuse shape is preserved on a cluster.
    The per-key mapInPandas stages of `hyperfunctions` spread through
    it too (r13: `lttb_downsample` 2.4 s in one task, ~0.7 s at 32).
    """
    sc = df.sparkSession.sparkContext
    n = max(sc.defaultParallelism, df.rdd.getNumPartitions())
    return df.repartition(n, F.col(key_col))


def duplicate_ngram_fraction(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    ns: tuple[int, ...] = (2, 3),
) -> DataFrame:
    """Gopher-style duplicate n-gram character fraction (Rae et al.
    2021 "Scaling Language Models" §A1.1 repetition filters): per
    document and per n, the fraction of n-gram-occurrence characters
    that belong to n-grams occurring MORE THAN ONCE in the document —
    the other half of the standard repetition rule-set next to
    `doc_repetition_ratio`'s top-token share. High values flag looped
    generation, lyrics/chorus spam, and templated boilerplate that a
    single top-token share misses.

    Definition (the occurrence-weighted form the open corpus-curation
    stacks use, overlap-agnostic): with c(g) the in-doc count of gram
    g and |g| its character length,
        frac_n = Σ_{c(g)≥2} c(g)·|g| / Σ_g c(g)·|g|
    over the doc's n-grams; 0.0 when the doc has no n-grams of that
    size. Exact integer sums and one final double division, so the
    value hashes bit-identically cross-engine. Documents with no
    n-gram of ANY requested size (fewer than min(ns) tokens) emit no
    row, matching the SQL formulation.

    Plan: every requested n rides ONE scan and ONE shuffle — the
    n-gram arrays for all n are built per row (codegen
    sequence/transform/slice), tagged (n, gram), and exploded once;
    repartition(id) before the explode moves compact document rows,
    and hashpartitioning(id) satisfies both the (id, n, gram) count
    and the final per-id conditional sums, so neither aggregation adds
    an Exchange (same shape as `doc_repetition_ratio`, pinned in
    test_plans). Hot boilerplate grams combine map-side within each
    doc's partition; no windows, no Python.
    """
    toks = tokens(text_col)

    def grams(n: int) -> Column:
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.struct(
                    F.lit(n).alias("n"),
                    F.concat_ws(" ", F.slice(toks, i, n)).alias("gram"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<n:int,gram:string>>"))

    exploded = (
        _repartition_by_key(df.select(id_col, text_col), id_col)
        .select(
            id_col,
            F.explode(F.flatten(F.array(*[grams(n) for n in ns]))).alias("g"),
        )
        .select(id_col, F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    )
    counts = exploded.groupBy(id_col, "n", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    occ_chars = F.col("cnt") * F.length("gram")
    aggs = []
    for n in ns:
        is_n = F.col("n") == n
        den = F.sum(F.when(is_n, occ_chars).otherwise(F.lit(0)))
        num = F.sum(F.when(is_n & (F.col("cnt") >= 2), occ_chars).otherwise(F.lit(0)))
        aggs.append(
            F.when(den > 0, num.cast("double") / den.cast("double"))
            .otherwise(F.lit(0.0))
            .alias(f"dup_{n}gram_char_frac")
        )
    return counts.groupBy(id_col).agg(*aggs)


#: Gopher rule-set stopwords (Rae et al. 2021 §A1.1: a document must
#: contain at least 2 of these to pass the stopword rule).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_gate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    max_top_token_share: float = 0.2,
    max_dup_2gram_frac: float = 0.6,
    max_dup_3gram_frac: float = 0.5,
) -> DataFrame:
    """The composed Gopher/MassiveText quality rule-set (Rae et al.
    2021 §A1.1) as ONE declarative gate: every rule a boolean flag,
    plus the conjunction ``gopher_pass`` — the standard pre-training
    document filter, auditable per rule.

    Scalar rules (word count bounds, mean word length bounds,
    symbol-to-word ratio, bullet-line and ellipsis-line fractions,
    alphabetic-word fraction, ≥K stopword hits) are pure codegen
    projections. The repetition rules (top-token share, duplicate
    2-/3-gram character fractions) need aggregation — all three ride
    the SAME tagged-gram explode as `duplicate_ngram_fraction` with
    n=1 included (1-grams ARE tokens, so top-token share falls out of
    the same (id, n, gram) count), i.e. one scan branch, one doc_id
    shuffle for every aggregate signal, then one equi-join back to the
    scalar projection. All ratios are exact int/int IEEE divisions and
    all flags compare those exact doubles, so the verdicts hash
    bit-identically cross-engine.

    Documents with zero tokens never reach the repetition join (no
    grams) and are excluded, matching the SQL formulation.
    """
    toks = tokens(text_col)
    n_words = F.size(toks).cast("long")
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.size(lines)
    dbl = lambda c: c.cast("double")  # noqa: E731

    mean_word_len = F.aggregate(
        toks, F.lit(0.0), lambda acc, t: acc + F.length(t)
    ) / dbl(n_words)
    symbol_ratio = dbl(F.regexp_count(F.col(text_col), F.lit(r"#|\.\.\."))) / dbl(
        n_words
    )
    bullet_frac = dbl(
        F.size(
            F.filter(
                lines,
                lambda l: l.startswith("- ")
                | l.startswith("* ")
                | l.startswith("•"),
            )
        )
    ) / dbl(n_lines)
    ellipsis_frac = dbl(
        F.size(F.filter(lines, lambda l: l.endswith("...")))
    ) / dbl(n_lines)
    alpha_frac = dbl(
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    ) / dbl(n_words)
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains(toks, s),
        )
    )

    scalar = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        (n_words >= min_words) & (n_words <= max_words),
        (mean_word_len >= min_mean_word_len) & (mean_word_len <= max_mean_word_len),
        symbol_ratio < max_symbol_ratio,
        bullet_frac < max_bullet_line_frac,
        ellipsis_frac < max_ellipsis_line_frac,
        alpha_frac > min_alpha_word_frac,
        stop_hits >= min_stopword_hits,
    ).toDF(
        id_col,
        "n_words",
        "mean_word_len",
        "word_count_ok",
        "mean_word_len_ok",
        "symbol_ratio_ok",
        "bullet_lines_ok",
        "ellipsis_lines_ok",
        "alpha_words_ok",
        "stopwords_ok",
    )

    def grams(n: int) -> Column:
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.struct(
                    F.lit(n).alias("n"),
                    F.concat_ws(" ", F.slice(toks, i, n)).alias("gram"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<n:int,gram:string>>"))

    counts = (
        _repartition_by_key(df.select(id_col, text_col), id_col)
        .select(
            id_col,
            F.explode(F.flatten(F.array(grams(1), grams(2), grams(3)))).alias("g"),
        )
        .select(id_col, F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
        .groupBy(id_col, "n", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    occ_chars = F.col("cnt") * F.length("gram")

    def dup_frac(n: int) -> Column:
        is_n = F.col("n") == n
        den = F.sum(F.when(is_n, occ_chars).otherwise(F.lit(0)))
        num = F.sum(F.when(is_n & (F.col("cnt") >= 2), occ_chars).otherwise(F.lit(0)))
        return F.when(den > 0, dbl(num) / dbl(den)).otherwise(F.lit(0.0))

    rep = counts.groupBy(id_col).agg(
        (
            dbl(F.max(F.when(F.col("n") == 1, F.col("cnt"))))
            / dbl(F.sum(F.when(F.col("n") == 1, F.col("cnt")).otherwise(F.lit(0))))
        ).alias("top_token_share"),
        dup_frac(2).alias("dup_2gram_char_frac"),
        dup_frac(3).alias("dup_3gram_char_frac"),
    )
    out = scalar.join(rep, on=id_col)
    rule_flags = [
        "word_count_ok",
        "mean_word_len_ok",
        "symbol_ratio_ok",
        "bullet_lines_ok",
        "ellipsis_lines_ok",
        "alpha_words_ok",
        "stopwords_ok",
        "top_token_ok",
        "dup_2gram_ok",
        "dup_3gram_ok",
    ]
    out = (
        out.withColumn("top_token_ok", F.col("top_token_share") <= max_top_token_share)
        .withColumn("dup_2gram_ok", F.col("dup_2gram_char_frac") <= max_dup_2gram_frac)
        .withColumn("dup_3gram_ok", F.col("dup_3gram_char_frac") <= max_dup_3gram_frac)
    )
    gate = F.lit(True)
    for flag in rule_flags:
        gate = gate & F.col(flag)
    return out.select(
        id_col,
        "n_words",
        "mean_word_len",
        "top_token_share",
        "dup_2gram_char_frac",
        "dup_3gram_char_frac",
        *rule_flags,
        gate.alias("gopher_pass"),
    )


def keyword_extraction(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    top_k: int = 5,
) -> DataFrame:
    """Per-document top-k keywords by tf-idf-style salience — the
    document-tagging/topic-surfacing pass of a curation pipeline.

    The salience score is BM25's idf ratio WITHOUT the log:
        score = tf · (N − df + 0.5) / (df + 0.5)
    log is monotone, so the top-k ranking is identical to BM25-idf
    ranking — and unlike ln(), the ratio is computed from exact
    integers (+0.5 is exactly representable) with IEEE divisions, so
    the score hashes bit-identically cross-engine; a log-based score
    would be hostage to libm differences between the JVM and DuckDB.

    Plan: tf = repartition(id) → token explode → groupBy(id, tok)
    [no second Exchange — hashpartitioning(id) satisfies it]; document
    frequency comes from its OWN pruned scan branch — per-doc
    `array_distinct` then explode → countDistinct(id) per token — NOT
    from re-aggregating the tf table (referencing tf twice would make
    Spark recompute the whole scan+explode+aggregate subtree). The
    distinct doc count (rather than a row count) keeps df honest when
    the same doc id is ingested twice (fuzz r6); Spark plans it as the
    standard two-phase distinct aggregate — map-side (tok, id) dedup,
    one pair shuffle, one count. The df-table and the N-docs scalar
    broadcast back onto tf [partitioning on id preserved — the 1-row
    scalar join is a broadcast nested loop by construction, the
    standard scalar-subquery shape] → per-doc top-k window [no new
    Exchange]. Four Exchanges total (doc-id, df pair + count, 1-row),
    pinned; the per-doc window partitions are bounded by per-doc
    vocabulary, never corpus-sized. Ties break on the token string, so
    output is deterministic.
    """
    from pyspark.sql import Window

    tf = (
        _repartition_by_key(df.select(id_col, text_col), id_col)
        .select(id_col, F.explode(tokens(text_col)).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # df counts DOCUMENTS, not rows: countDistinct(id) keeps the count
    # honest when the same doc_id is ingested twice (fuzz-found, r6 —
    # a plain row count silently inflated df on duplicate-PK rows).
    # Spark plans the distinct as a two-phase partial aggregate over
    # (tok, id) pairs already deduped per-row by array_distinct.
    dfreq = (
        df.select(
            F.col(id_col),
            F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
        )
        .groupBy("tok")
        .agg(F.countDistinct(F.col(id_col)).alias("df"))
    )
    n_docs = df.select(
        F.count(F.lit(1)).alias("n_docs")
    )
    scored = (
        tf.join(F.broadcast(dfreq), on="tok")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * (
                ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
                / (F.col("df").cast("double") + F.lit(0.5))
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("keyword_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("keyword_rank") <= top_k)
        .select(id_col, "keyword_rank", "tok", "tf", "df", "score")
    )


def bigram_collocations(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    top_k: int = 100,
    min_count: int = 5,
) -> DataFrame:
    """Corpus-wide collocation mining: top-k adjacent word pairs by
    PMI-style lift — the phrase/tokenizer-merge discovery pass
    (multi-word expressions, candidate BPE merges, stop-phrase lists).

    Ranking is by lift = P(ab)/(P(a)·P(b)) rather than PMI = log(lift):
    log is monotone so the ranking is identical, and the lift is four
    exact integer counts combined in fixed-order IEEE double
    arithmetic — engine-portable where ln() is hostage to libm. Counts
    below ``min_count`` are dropped first (classic PMI noise guard:
    hapax pairs otherwise dominate).

    Plan: one bigram explode → groupBy(w1, w2) count [shuffle 1]; one
    unigram explode → groupBy(tok) count [shuffle 2, vocab-sized]
    broadcast back onto the bigram table twice (w1, w2); the total
    token count is a 1-row broadcast scalar. Top-k is orderBy+limit —
    Spark's TakeOrderedAndProject, a per-partition top-k merged on the
    driver, so the full bigram table never sits in one partition; only
    the k survivors pass through the rank window.
    """
    from pyspark.sql import Window

    toks = tokens(text_col)
    pairs_arr = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    big = (
        _repartition_by_key(df.select(id_col, text_col), id_col)
        .select(F.explode(pairs_arr).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    uni = (
        df.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_tok = df.select(F.sum(F.size(toks)).cast("long").alias("n_tokens"))
    scored = (
        big.join(
            F.broadcast(uni.select(F.col("tok").alias("w1"), F.col("c").alias("c_a"))),
            on="w1",
        )
        .join(
            F.broadcast(uni.select(F.col("tok").alias("w2"), F.col("c").alias("c_b"))),
            on="w2",
        )
        .join(F.broadcast(n_tok))
        .withColumn(
            "lift",
            (F.col("c_ab").cast("double") * F.col("n_tokens").cast("double"))
            / (F.col("c_a").cast("double") * F.col("c_b").cast("double")),
        )
    )
    order = [F.desc("lift"), F.asc("w1"), F.asc("w2")]
    top = scored.orderBy(*order).limit(top_k)
    w = Window.orderBy(*order)
    return top.withColumn(
        "colloc_rank", F.row_number().over(w).cast("int")
    ).select("colloc_rank", "w1", "w2", "c_ab", "c_a", "c_b", "lift")


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 8,
) -> DataFrame:
    """Benchmark-contamination detection: count distinct word n-grams a
    corpus document shares with an evaluation/benchmark set.

    The standard decontamination pass before pre-training (e.g. the
    GPT-3/PaLM 8-13-gram overlap checks): any training document that
    reproduces an n-gram of an eval benchmark is flagged for removal so
    test data does not leak into training. Output: (id, n_contaminated)
    for documents with at least one hit.

    Scale posture: the benchmark side is tiny by construction (eval
    suites are KBs-MBs against a 100 TB corpus), so its distinct n-gram
    set broadcasts; the corpus side is one explode + distinct + hash
    join + count — the per-document dedup and the count share one
    shuffle on id, and no corpus×corpus pair generation exists
    anywhere. ``n`` trades recall for specificity: real pipelines use
    8-13; short-vocabulary test corpora need smaller n to surface any
    overlap at all.
    """
    from purpleair_data_logger_spark.operators.dedup import (
        parallelize_small_scan,
        shingles,
    )

    bench_grams = (
        benchmark.select(F.explode(shingles(text_col, n)).alias("_ng")).distinct()
    )
    corpus_grams = parallelize_small_scan(corpus, id_col).select(
        F.col(id_col), F.explode(shingles(text_col, n)).alias("_ng")
    ).dropDuplicates([id_col, "_ng"])
    return (
        corpus_grams.join(F.broadcast(bench_grams), on="_ng")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )


def curate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_tokens: int = 20,
    max_top_token_share: float = 0.25,
    per_lang_k: int = 20,
    strat_col: str | None = None,
) -> DataFrame:
    """End-to-end corpus curation: the composed training-data pipeline.

    quality gate (length + repetition) → language gate → normalize +
    exact dedup (canonical = min id per normalized text) → stratified
    per-language selection (top-k longest). This is the "a user could
    run their whole pipeline" composition of the individual north-star
    operators, and it is fully SQL-expressible so the driver
    hash-checks the entire pipeline end-to-end.

    Shuffle account at 100 TB: (1) the repetition aggregate shuffles
    compact document rows once on id (the explode happens after the
    repartition, and hashpartitioning(id) serves both the (id, tok) and
    (id) aggregations); (2) the feature join is co-partitioned on id;
    (3) the dedup winner is ONE groupBy(normalized_md5) aggregate
    carrying the surviving row via min/min_by — NOT a min() window
    (a document duplicated 10⁶ times is one window partition: no
    map-side combine, no AQE skew split) and NOT the groupBy+join-back
    of `dedup.paragraph_dedup` (here the join-back would recompute the
    expensive repetition subtree for the winner branch; min_by keeps
    it single-pass). The string-valued min_by buffer plans as
    SortAggregate rather than HashAggregate, but partial (map-side)
    aggregation still applies — the hot hash collapses to one row per
    map partition before the shuffle, which is the property the window
    lacks; the per-partition sort is CPU-only, no extra scan/shuffle; (4) the per-language ranking window shuffles the
    small post-filter survivor set. Every expression is whole-stage
    codegen.
    """
    from pyspark.sql import Window

    pred, _score = language_vote(text_col)
    n_toks = whitespace_token_count(text_col)
    strat = F.col(strat_col) if strat_col else pred
    feats = df.select(
        F.col(id_col),
        n_toks.alias("n_tokens"),
        pred.alias("predicted_lang"),
        strat.alias("stratum"),
        F.md5(normalized_text(text_col)).alias("normalized_md5"),
    )
    toks_exploded = (
        _repartition_by_key(df.select(id_col, text_col), id_col)
        .select(id_col, F.explode(tokens(text_col)).alias("tok"))
    )
    rep = (
        toks_exploded.groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg((F.max("cnt").cast("double") / F.sum("cnt")).alias("top_token_share"))
    )
    kept = (
        feats.join(rep, on=id_col)
        .filter(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("predicted_lang") != "und")
            & (F.col("top_token_share") <= max_top_token_share)
        )
    )
    # min_by per PRIMITIVE column (not one struct): struct aggregation
    # buffers fall back to SortAggregate; primitive buffers stay in
    # HashAggregate with map-side partial combine.
    deduped = kept.groupBy("normalized_md5").agg(
        F.min(id_col).alias(id_col),
        F.min_by("n_tokens", F.col(id_col)).alias("n_tokens"),
        F.min_by("stratum", F.col(id_col)).alias("stratum"),
    )
    rank_w = Window.partitionBy("stratum").orderBy(
        F.desc("n_tokens"), F.asc(id_col)
    )
    return (
        deduped.withColumn("sel_rank", F.row_number().over(rank_w).cast("int"))
        .filter(F.col("sel_rank") <= per_lang_k)
        .select("stratum", id_col, "n_tokens", "sel_rank")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    chunk_tokens: int,
    overlap_tokens: int = 0,
) -> DataFrame:
    """Split documents into overlapping token windows — the
    embedding/RAG chunking pass (each chunk becomes one embedding-model
    input; overlap preserves context across boundaries).

    Chunks start every ``chunk_tokens - overlap_tokens`` tokens from
    position 1 while a start position ≤ max(n_tokens - overlap, 1)
    remains, so every token lands in at least one chunk and only the
    final chunk may run short. Output: one row per chunk —
    (id, chunk_idx 0-based, chunk_start 1-based token position,
    n_chunk_tokens, chunk_md5). The digest stands in for the chunk
    text so downstream joins move 32 bytes, not the text; swap the
    md5 for the slice itself when feeding an embedder.

    Scale: pure codegen — sequence/transform/posexplode on the token
    array, no shuffle, no Python; output rows ≈ corpus tokens /
    (chunk - overlap), generated streaming per input partition.
    """
    if overlap_tokens >= chunk_tokens:
        raise ValueError("overlap_tokens must be < chunk_tokens")
    step = chunk_tokens - overlap_tokens
    # NULL text has no tokens and yields no chunks (fuzz r6) — without
    # the filter, greatest(NULL, 1) fabricates one start position and
    # concat_ws coerces the NULL slice to md5('').
    df = df.filter(F.col(text_col).isNotNull())
    toks = tokens(text_col)
    n = F.size(toks)
    starts = F.sequence(
        F.lit(1), F.greatest(n - overlap_tokens, F.lit(1)), F.lit(step)
    )
    chunks = F.transform(starts, lambda s: F.concat_ws(" ", F.slice(toks, s, chunk_tokens)))
    return (
        df.select(
            F.col(id_col),
            n.alias("_n"),
            F.posexplode(chunks).alias("chunk_idx", "_chunk"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            (F.lit(1) + F.col("chunk_idx") * step).cast("long").alias("chunk_start"),
            F.least(
                F.lit(chunk_tokens),
                F.col("_n") - (F.col("chunk_idx") * step),
            ).cast("long").alias("n_chunk_tokens"),
            F.md5(F.col("_chunk")).alias("chunk_md5"),
        )
    )


def cross_doc_dup_ngrams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
) -> DataFrame:
    """Cross-document duplicated n-gram coverage — the corpus-level
    repetition signal behind exact-substring training-data dedup (Lee
    et al. 2022 "Deduplicating Training Data Makes Language Models
    Better": remove/flag spans that recur verbatim ACROSS documents).
    `duplicate_ngram_fraction` measures within-doc loops; this measures
    how much of a document is boilerplate shared with the rest of the
    corpus — license headers, navigation chrome, syndicated passages.

    Per document: total n-gram occurrences, occurrences whose gram
    appears in ≥ 2 distinct documents corpus-wide, their ratio, and the
    document count of the doc's most-shared gram (how viral its worst
    span is). All counts are exact integers; the ratio is one final
    double division, so values hash bit-identically cross-engine.
    Documents with fewer than ``n`` tokens emit no row (they have no
    n-gram), matching the SQL range-unnest formulation.

    Plan — key-sharded aggregates, join-based attach, no windows:
      1. explode → groupBy(id, gram) partial-aggregates per-doc
         occurrence counts map-side (a doc repeating one gram 10⁶×
         combines before any exchange — the hot-boilerplate rule; the
         pre-explode repartition(id) already satisfies the grouping,
         so the aggregate itself adds NO exchange);
      2. the per-gram document count is a distinct+count on its own
         scan branch (Spark has no common-subplan sharing — same
         accepted trade as `keyword_extraction`'s df branch; forcing
         reuse would need a materialization barrier);
      3. gram_docs attaches via an equi-join on gram — NEVER a
         gram-partitioned window (a boilerplate gram in 10⁹ docs
         would be one window partition). Catalyst picks the physical
         join: broadcast while the gram table fits (local/test scale),
         shuffle equi-join — AQE-skew-splittable — at corpus scale.
      One groupBy(id) finishes. No windows, no Python anywhere.
    """
    toks = tokens(text_col)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    per_doc_gram = (
        _repartition_by_key(df.select(id_col, text_col), id_col)
        .select(F.col(id_col), F.explode(grams).alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    gram_docs = per_doc_gram.groupBy("gram").agg(
        F.count(F.lit(1)).alias("gram_docs")
    )
    joined = per_doc_gram.join(gram_docs, "gram")
    dup_occ = F.sum(F.when(F.col("gram_docs") >= 2, F.col("occ")).otherwise(F.lit(0)))
    total_occ = F.sum("occ")
    return (
        joined.groupBy(id_col)
        .agg(
            total_occ.alias("ngram_occurrences"),
            dup_occ.alias("cross_dup_occurrences"),
            (dup_occ.cast("double") / total_occ.cast("double")).alias(
                "cross_dup_frac"
            ),
            F.max("gram_docs").alias("max_gram_docs"),
        )
    )


def unigram_rarity(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    rare_max_tf: int = 2,
) -> DataFrame:
    """Unigram-LM document quality proxy, log-free — the
    SQL-expressible analog of CCNet's KenLM perplexity gate (Wenzek et
    al. 2020): score documents by how typical their tokens are of the
    corpus itself. Machine-generated noise and lorem-garbage score
    rare; natural prose scores common. Downstream, gate or stratify on
    these columns the way CCNet buckets by perplexity head/middle/tail.

    Per document, with c(t) the corpus-wide occurrence count of token
    t and N the corpus token total:
      * ``n_tokens``         — document length in tokens;
      * ``mean_corpus_prob`` — (Σ_t c(t)) / (n · N), the mean unigram
        probability of the doc's tokens. The arithmetic mean replaces
        perplexity's geometric mean so the score stays a ratio of two
        exact BIGINTs — same ordering pressure, no ln(), and therefore
        bit-identical across engines (ln is not correctly-rounded and
        differs by ULPs between libm and the JVM);
      * ``rare_token_frac``  — fraction of occurrences whose token
        appears ≤ ``rare_max_tf`` times corpus-wide (hapax/dis
        legomena): the high-signal tail CCNet's tail bucket captures;
      * ``min_corpus_tf``    — corpus count of the doc's rarest token.

    Plan mirrors `cross_doc_dup_ngrams`: groupBy(id, tok) compresses
    occurrences map-side (the repartition(id) satisfies the grouping,
    so no aggregate exchange), c(t) is a plain sum over the compressed
    rows on its own branch, and the counts attach via an equi-join on
    tok — never a token-partitioned window ("the" appears in every
    document; as a window partition it would serialize the corpus,
    as a join key AQE skew-splits it). Catalyst broadcasts the count
    table while it fits and falls back to a shuffle join at open-vocab
    scale. The corpus total N is an explicit 1-row broadcast scalar,
    not a collect.
    """
    per_doc_tok = (
        _repartition_by_key(df.select(id_col, text_col), id_col)
        .select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    tok_counts = per_doc_tok.groupBy("tok").agg(F.sum("occ").alias("corpus_tf"))
    # N without an explode: summing token-array sizes off the bare scan
    # keeps this branch a cheap scalar instead of a third explode
    # subtree (Spark would re-derive tok_counts per consumer — no
    # common-subplan sharing).
    n_total = df.select(
        F.sum(F.size(tokens(text_col))).alias("corpus_total")
    )
    joined = per_doc_tok.join(tok_counts, "tok").crossJoin(F.broadcast(n_total))
    n_tokens = F.sum("occ")
    sum_tf = F.sum(F.col("occ") * F.col("corpus_tf"))
    rare_occ = F.sum(
        F.when(F.col("corpus_tf") <= rare_max_tf, F.col("occ")).otherwise(F.lit(0))
    )
    return (
        joined.groupBy(id_col)
        .agg(
            n_tokens.alias("n_tokens"),
            (
                sum_tf.cast("double")
                / (n_tokens * F.min("corpus_total")).cast("double")
            ).alias("mean_corpus_prob"),
            (rare_occ.cast("double") / n_tokens.cast("double")).alias(
                "rare_token_frac"
            ),
            F.min("corpus_tf").alias("min_corpus_tf"),
        )
    )


def bigram_lm_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    seen_min_tf: int = 2,
) -> DataFrame:
    """Bigram-LM fluency proxy, log-free — the next step up from
    `unigram_rarity`'s unigram model: score documents by how typical
    their word-to-word TRANSITIONS are of the corpus. Shuffled-word
    salad has plausible unigrams but implausible bigrams; this is the
    signal a KenLM-style fluency gate adds over a unigram one.

    Per document, with c2(w1,w2) the corpus bigram count and
    c1(w1) = Σ_w c2(w1,w) the bigram-position context count (derived
    from the bigram table itself — a proper conditional: Σ_w P(w|w1)=1
    with no separate unigram pass):
      * ``n_bigrams``        — bigram positions in the doc;
      * ``cond_prob_wmean``  — Σ occ·c2 / Σ occ·c1: the c1-weighted
        mean of conditional probabilities P(w2|w1) = c2/c1 over the
        doc's positions. A ratio of two exact BIGINT sums — the same
        no-ln() trade `unigram_rarity` makes (geometric→weighted
        arithmetic mean), so the score is bit-identical cross-engine;
      * ``seen_bigram_frac`` — fraction of positions whose bigram
        reaches ``seen_min_tf`` corpus-wide (≥2 = attested outside a
        single occurrence — the backoff-rate analog);
      * ``min_bigram_tf``    — corpus count of the doc's rarest
        transition (≥1 by construction: counts come from this corpus).

    Plan discipline (the `unigram_rarity` shape): repartition(id) →
    ONE bigram explode → groupBy(id, w1, w2) compresses occurrences
    map-side with no added exchange; the corpus bigram table is a sum
    over those compressed rows on its own branch, context counts a
    further vocab-sized groupBy(w1) over THAT table (no third corpus
    pass); both attach by equi-join — a stop-bigram ("of the",
    10⁹ docs) is an AQE-skew-splittable join key, never a window
    partition. Catalyst broadcasts the count tables while they fit.
    """
    toks = tokens(text_col)
    pairs_arr = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    per_doc_bg = (
        _repartition_by_key(df.select(id_col, text_col), id_col)
        .select(F.col(id_col), F.explode(pairs_arr).alias("p"))
        .select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy(id_col, "w1", "w2")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    bg_counts = per_doc_bg.groupBy("w1", "w2").agg(F.sum("occ").alias("c2"))
    ctx_counts = bg_counts.groupBy("w1").agg(F.sum("c2").alias("c1"))
    joined = per_doc_bg.join(bg_counts, ["w1", "w2"]).join(ctx_counts, "w1")
    n_bigrams = F.sum("occ")
    return joined.groupBy(id_col).agg(
        n_bigrams.alias("n_bigrams"),
        (
            F.sum(F.col("occ") * F.col("c2")).cast("double")
            / F.sum(F.col("occ") * F.col("c1")).cast("double")
        ).alias("cond_prob_wmean"),
        (
            F.sum(
                F.when(F.col("c2") >= seen_min_tf, F.col("occ")).otherwise(
                    F.lit(0)
                )
            ).cast("double")
            / n_bigrams.cast("double")
        ).alias("seen_bigram_frac"),
        F.min("c2").alias("min_bigram_tf"),
    )


def encode_with_vocabulary(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    top_k: int = 1000,
    oov_id: int = 0,
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Tokenize-and-numericalize — the encode stage between curation
    and `packing.pack_sequences`: every token becomes its rank in the
    corpus vocabulary (`vocabulary`'s deterministic top-k by total term
    frequency, ties broken on the token string), out-of-vocabulary
    tokens become ``oov_id``. Output per document: token count, OOV
    count, and the id sequence serialized as a comma-joined string
    (engine-portable; split it or swap the serialization for an
    array column when feeding a trainer).

    Plan: the vocab branch is `vocabulary`'s explode + two-phase
    aggregate + TakeOrderedAndProject — top_k-bounded, so it
    broadcasts by construction (unlike the open-vocab count tables in
    `unigram_rarity`, this side is explicitly truncated). The encode
    side posexplodes (id, pos, tok) riding the pre-explode
    repartition(id), left-joins the broadcast vocab, and reassembles
    order with array_sort(collect_list(struct(pos, id))) — per-doc
    arrays, never corpus-wide. No windows over data-sized partitions;
    the only window is vocabulary's rank over top_k rows.

    Pass ``vocab`` (a (vocab_rank, tok) table) to encode against a
    PREBUILT vocabulary instead of deriving one from ``df`` — the
    streaming path does this: the vocabulary is a batch-side corpus
    artifact (like the cluster table and the LSH band index), and each
    micro-batch encodes against the same frozen id space so ids stay
    stable across arrivals.
    """
    if vocab is None:
        vocab = vocabulary(df, id_col, text_col, top_k=top_k)
    vocab = vocab.select("vocab_rank", "tok")
    tagged = _repartition_by_key(df.select(id_col, text_col), id_col).select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    joined = tagged.join(F.broadcast(vocab), "tok", "left").select(
        F.col(id_col),
        F.col("pos"),
        F.coalesce(F.col("vocab_rank"), F.lit(oov_id)).alias("tid"),
    )
    ordered = F.array_sort(F.collect_list(F.struct("pos", "tid")))
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(
            F.when(F.col("tid") == oov_id, F.lit(1)).otherwise(F.lit(0))
        ).alias("n_oov"),
        F.concat_ws(
            ",", F.transform(ordered, lambda s: s["tid"].cast("string"))
        ).alias("token_ids"),
    )


#: default linear quality-classifier weights: favors documents with
#: natural stopword density and moderate word length, penalizes
#: very short docs. Stand-ins for trained coefficients — swap with a
#: real classifier's weights; the inference shape is what matters.
QUALITY_CLASSIFIER_WEIGHTS: dict[str, float] = {
    "n_tokens": 0.01,
    "stopword_ratio": 8.0,
    "mean_token_len": -0.35,
}
QUALITY_CLASSIFIER_BIAS: float = 0.6


def quality_classifier_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    weights: dict[str, float] | None = None,
    bias: float | None = None,
) -> DataFrame:
    """Classifier-based quality filtering — the GPT-3/LLaMA-style
    curation stage where a trained linear model scores documents and
    the corpus keeps positive margins. Training happens offline; what
    the 100 TB engine must run is INFERENCE, and a linear scorer over
    already-codegen features is a pure projection: margin =
    bias + Σ w_f·f, fused into the scan stage with no shuffle, no
    Python, no model server.

    The margin is kept sigmoid-free (monotone-identical decision, no
    exp() — same engine-portability reasoning as the log-free BM25 and
    PMI scores) and the feature/weight sum is one fixed left-to-right
    chain, so both engines evaluate the identical IEEE expression tree
    bit-for-bit. Output: (id, margin, quality_pass).

    Features (all cross-engine-exact, from `quality_features`):
    n_tokens, stopword_ratio, mean_token_len.
    """
    w = weights if weights is not None else QUALITY_CLASSIFIER_WEIGHTS
    b = bias if bias is not None else QUALITY_CLASSIFIER_BIAS
    toks = tokens(text_col)
    n_toks = F.size(toks).cast("long")
    n_stop = stopword_count(text_col, LANG_STOPWORDS["en"])
    feats: dict[str, Column] = {
        "n_tokens": n_toks.cast("double"),
        "stopword_ratio": n_stop.cast("double") / n_toks.cast("double"),
        "mean_token_len": F.aggregate(
            toks, F.lit(0.0), lambda acc, t: acc + F.length(t)
        )
        / n_toks.cast("double"),
    }
    margin = F.lit(float(b))
    for name in sorted(w):  # fixed fold order — mirrored in oracle SQL
        margin = margin + F.lit(float(w[name])) * feats[name]
    return df.select(
        F.col(id_col),
        margin.alias("margin"),
        (margin > 0.0).alias("quality_pass"),
    )


def substring_search(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    *,
    gram_n: int = 3,
) -> DataFrame:
    """Literal substring search via a character-n-gram inverted-index
    candidate pass + exact verify — grep-at-scale.

    A naive ``contains()`` scan reads every byte of a 100 TB corpus
    per query. The index formulation bounds it: a document can contain
    the literal only if it contains EVERY one of the query's character
    n-grams — full gram coverage, decided here per row as
    size(doc grams ∩ query grams) == |query grams| (one codegen
    projection; no explode, no shuffle — r13). Only candidates pay the
    exact ``contains`` verify + occurrence count. In a deployment the
    (gram, doc) pairs are the PERSISTED inverted index (built once,
    queried many times — the `neardup_incremental_batch` index
    pattern) and candidate lookup is bounded by the query's RAREST
    gram's posting list; here the coverage test is evaluated inline so
    the catalog query is self-contained.

    Occurrence count is the exact non-overlapping-scan identity
    (len(text) − len(replace(text, q))) / len(q) — engine-portable
    integer arithmetic.

    NULL contract: NULL text or NULL id carries no observation
    (filtered both engines). Queries shorter than ``gram_n`` fall
    back to the verify scan alone (no gram can prune).

    Output: (id, n_occurrences) for documents containing the literal.
    """
    if len(query) < gram_n:
        base = df.filter(
            F.col(id_col).isNotNull()
            & F.col(text_col).isNotNull()
            & F.col(text_col).contains(query)
        )
    else:
        qgrams = sorted(
            {query[i : i + gram_n] for i in range(len(query) - gram_n + 1)}
        )
        docs = df.filter(
            F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
        )
        # Full-coverage candidate test evaluated PER ROW (r13, guide
        # §2.3/§2.4): the doc's gram array is intersected with the
        # (tiny, literal) query-gram array and candidacy is
        # size(intersection) == |query grams| — identical candidate
        # set to the old formulation (explode every distinct doc gram
        # → broadcast semi-join → per-doc coverage count), but with NO
        # row explosion (~len(text) rows/doc), NO shuffle and NO
        # aggregate: measured 2.72 → 1.78 s at sf0.1 with bit-identical
        # output. The persisted-inverted-index deployment story is
        # unchanged — at 100 TB the (gram, doc) index is a prebuilt
        # artifact and candidate lookup is posting-list-bounded; this
        # inline form is the self-contained single-pass equivalent,
        # now one projection instead of a shuffle.
        # Docs shorter than gram_n cannot contain the (longer) query at
        # all — filter them BEFORE the gram pass. Without this,
        # sequence(1, 0) yields the DESCENDING [1, 0] (Spark defaults
        # step -1 when start > stop), fabricating a position-0 substring
        # and truncated grams for every short/empty document — harmless
        # to results but wasted work at corpus scale (ADVICE r8).
        grams = F.expr(
            f"transform(sequence(1, length({text_col}) - {gram_n - 1}),"
            f" i -> substring({text_col}, i, {gram_n}))"
        )
        coverage = F.size(
            F.array_intersect(grams, F.array(*[F.lit(g) for g in qgrams]))
        )
        base = (
            docs.filter(F.length(text_col) >= gram_n)
            .filter(coverage == len(qgrams))
            .filter(F.col(text_col).contains(query))
        )
    return base.select(
        id_col,
        (
            (F.length(text_col) - F.length(F.replace(F.col(text_col), F.lit(query))))
            / F.lit(len(query))
        )
        .cast("long")
        .alias("n_occurrences"),
    )
