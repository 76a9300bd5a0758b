"""Text-analysis operators (E38–E39): tokenize, quality, language-ID,
fingerprints, TF-IDF.

All pure built-in expressions — tokenization is `split`, counting is
`regexp_count`, hashing is `md5` — so the whole path stays in
whole-stage codegen and scales linearly with input bytes. No Python UDF
anywhere in text analysis.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.binding import let

#: Minimal per-language stopword lists for the n-gram/stopword heuristic
#: language-ID. Ordered dict: ties break towards the earlier entry.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "es": ["el", "la", "de", "y", "los", "es"],
    "fr": ["le", "la", "et", "les", "des", "est"],
}

#: English stopwords used for quality scoring.
QUALITY_STOPWORDS = ["the", "a", "and", "of", "to", "is", "in", "it", "that"]


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of lower-cased, trimmed text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(F.trim(c)), r"\s+")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def word_token_count(col: Column | str) -> Column:
    """BPE-ish regex token count: word pieces + standalone punctuation."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(F.lower(c), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"))


def punct_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(r"[^A-Za-z0-9\s]"))


def stopword_count(col: Column | str, stopwords: list[str] | None = None) -> Column:
    sw = stopwords or QUALITY_STOPWORDS
    return F.size(
        F.filter(tokens(col), lambda t: F.array_contains(F.array(*[F.lit(w) for w in sw]), t))
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio features + a composite
    quality score in [0,1] (heuristic in the C4/Gopher style: enough
    length, some stopwords, limited punctuation)."""
    # No rounding: every term is IEEE +,-,*,/ or min over identical
    # integer inputs, so the doubles are bit-identical on any engine.
    # try_divide, not /: an empty text has n_chars = 0 and under ANSI
    # mode (the session default) a plain division throws
    # DIVIDE_BY_ZERO; try_divide yields NULL in both ANSI modes, which
    # is also exactly what DuckDB's x/0 returns, so the oracle
    # semantics are unchanged. The NULL flows into quality_score as
    # LEAST(NULL, 1.0) = 1.0 (both engines skip NULLs in LEAST), i.e.
    # an empty doc scores as maximally punctuation-penalized.
    toks = token_count(text_col)
    n_chars = F.length(text_col)
    sw_ratio = F.try_divide(stopword_count(text_col).cast("double"), toks)
    punct_ratio = F.try_divide(punct_count(text_col).cast("double"), n_chars)
    # chars minus separators
    mean_tok_len = F.try_divide((n_chars - toks + 1).cast("double"), toks)
    score = (
        F.least(toks.cast("double") / 100.0, F.lit(1.0)) * 0.5
        + F.least(sw_ratio * 5.0, F.lit(1.0)) * 0.3
        + (1.0 - F.least(punct_ratio * 10.0, F.lit(1.0))) * 0.2
    )
    return df.select(
        *df.columns,
        toks.alias("n_tokens"),
        sw_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        mean_tok_len.alias("mean_token_len"),
        score.alias("quality_score"),
    )


def langid_scores(text_col: str = "text") -> list[Column]:
    """One match-count column per candidate language."""
    cols = []
    for lang, words in LANG_STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        cols.append(
            F.size(F.filter(tokens(text_col), lambda t: F.array_contains(arr, t))).alias(
                f"score_{lang}"
            )
        )
    return cols


def langid_predict() -> Column:
    """argmax over the score_<lang> columns; ties break by dict order;
    all-zero -> 'unknown'."""
    langs = list(LANG_STOPWORDS)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.lit("unknown")
    for lang in reversed(langs):
        pred = F.when(
            (F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return pred


def fingerprint_exact(col: Column | str) -> Column:
    """Exact-dup fingerprint: md5 of whitespace-normalized lower text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


def fingerprint_bag(col: Column | str) -> Column:
    """Order-insensitive fingerprint: md5 over the sorted distinct token
    bag — robust to shuffled word order."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(col)))))


def ngrams(col: Column | str, k: int) -> Column:
    """Every k-word n-gram of the document in token order, repeats
    kept; ``[]`` for documents shorter than k words (and NULL text).

    The token array is bound once per document with
    :func:`~aics_dask_utils_spark.functions.binding.let`. Referenced
    inline, ``tokens(col)`` would sit inside the per-position lambda,
    which Spark evaluates per element with no common-subexpression
    elimination: the document would be re-tokenized at every position,
    O(n²) per document."""

    def _grams(t: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(t) - (k - 1))
        # sequence(1, n) with n < 1 DESCENDS in Spark — guard short docs to [].
        return F.when(
            F.size(t) >= k,
            F.transform(
                idx,
                lambda i: F.concat_ws(" ", *[F.element_at(t, i + j) for j in range(k)]),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return let(tokens(col), _grams)


def shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles (the MinHash/Jaccard unit), in order of
    first occurrence; each document is tokenized once (see
    :func:`ngrams`)."""
    return F.array_distinct(ngrams(col, k))


def tf_idf(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc, term, tf, idf, tfidf) rows. Smoothed idf = ln((N+1)/(df+1)).

    Shuffle profile: one explode (narrow), one groupBy(doc,term), one
    groupBy(term) for df. The corpus is tokenized ONCE: df derives
    from the persisted tf relation (each (doc, term) row is one
    distinct doc for that term, so df = count per term — no second
    explode, no countDistinct). The df side is term-dimension-sized —
    small relative to the corpus but still growing with it (Heaps'
    law), so it carries NO forced broadcast hint: both groupBys
    already hash on ``term``-compatible keys, AQE broadcasts the df
    side while it fits and falls back to a term-partitioned join when
    the vocabulary outgrows the threshold.
    """
    from pyspark import StorageLevel

    n_docs = docs.select(F.countDistinct(id_col).alias("n")).withColumn(
        "j", F.lit(1)
    )
    term_rows = docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    )
    # persisted: both the df derivation and the final join consume it
    tf = (
        term_rows.groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    df_counts = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (
        tf.join(df_counts, "term")
        .withColumn("j", F.lit(1))
        .join(F.broadcast(n_docs), "j")
        .drop("j")
        .withColumn(
            "idf", F.round(F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)), 6)
        )
        .withColumn("tfidf", F.round(F.col("tf") * F.col("idf"), 6))
        .drop("n")
    )


def _bm25_weights(
    docs: DataFrame,
    terms: list[str],
    id_col: str,
    text_col: str,
    k1: float,
    b: float,
) -> DataFrame:
    """The shared BM25 core: one row per (document, matching term) with
    its 6-dp-rounded Okapi weight ``w`` (and doc_id, dl, term).

    Scale shape: the token explode is filtered to ``terms`` BEFORE the
    (doc, term) aggregation, so the shuffle carries only matching
    postings — |matches|, not |tokens|. Corpus stats (N, total length)
    and per-term document frequencies are tiny aggregates broadcast
    back onto the postings.

    The postings relation is persisted ``MEMORY_AND_DISK`` (dfreq and
    the weighted join both consume it; without this the scan +
    tokenize + explode runs twice; it is |matches|-sized, the cheapest
    cache point). The persist outlives the call: the returned relation
    is lazy and still reads it, so it stays cached until the session's
    ``spark.catalog.clearCache()``, or until the caller unpersists the
    postings after its own action.
    """
    from pyspark import StorageLevel

    toks = tokens(text_col)
    bag = F.array(*[F.lit(t) for t in terms])
    # Small corpora arrive as one parquet split; the tokenize/explode
    # fan-out is not small — spread it to cluster parallelism (free at
    # real scale, where the scan is already thousands of splits).
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, id_col
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).alias("dl"),
        F.explode(F.filter(toks, lambda t: F.array_contains(bag, t))).alias("term"),
    )
    stats = docs.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).alias("total_dl"),
    )
    tf = (
        base.groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("total_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm_tf = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl").cast("double") / avgdl)
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("w", F.round(idf * norm_tf, 6))
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document to a bag-of-terms query
    (Robertson/Spärck Jones; Lucene-style non-negative idf
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``).

    Returns (doc_id, dl, bm25) for documents matching >= 1 query term.

    Per-term weights come from the shared core :func:`_bm25_weights`
    (which also documents the persist it leaves behind); they are
    summed in exact decimal, so scores hash-match any engine running
    the same arithmetic.
    """
    from ..functions.deterministic import dsum

    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    weighted = _bm25_weights(docs, query_terms, id_col, text_col, k1, b)
    return weighted.groupBy("doc_id", "dl").agg(dsum("w").alias("bm25"))


def bm25_scores_multi(
    docs: DataFrame,
    queries: dict[int, list[str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 for a BATCH of bag-of-terms queries in ONE corpus scan
    (the query-relation generalization of :func:`bm25_scores`).

    Returns (q_id, doc_id, dl, bm25) for every (query, document) pair
    sharing >= 1 term. Same arithmetic as the single-query variant
    (the shared core :func:`_bm25_weights`, exact-decimal sum), so
    running query q alone or in a batch gives identical scores — df and
    corpus stats are query-independent.

    Scale shape: the core's token filter is the UNION of all query
    bags, so the corpus is scanned once however many queries ride the
    batch; the per-term weights then join the broadcast (q_id, term)
    relation — query-dimension-sized, scale-independent of the corpus —
    and collapse to per-(q_id, doc) scores with map-side partials.
    Adding a query adds rows to a broadcast relation, never a corpus
    scan.
    """
    from ..functions.deterministic import dsum

    if not queries:
        raise ValueError("queries must be non-empty")
    if any(not terms for terms in queries.values()):
        raise ValueError("every query bag must be non-empty")
    all_terms = sorted({t for terms in queries.values() for t in terms})
    weighted = _bm25_weights(docs, all_terms, id_col, text_col, k1, b)
    qrel = docs.sparkSession.createDataFrame(
        [(int(q), t) for q, terms in sorted(queries.items()) for t in terms],
        "q_id int, term string",
    )
    return (
        weighted.join(F.broadcast(qrel), "term")
        .groupBy("q_id", "doc_id", "dl")
        .agg(dsum("w").alias("bm25"))
    )


def bpe_train_encode(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    merges: int = 5,
) -> DataFrame:
    """BPE merge training + corpus re-encoding, the iterative
    broadcast-merge formulation (Sennrich et al. 2016 at corpus scale).

    Each round: (1) count adjacent token pairs across the whole corpus
    (one explode + map-side-combined agg — the pair relation is
    bounded by distinct corpus bigrams, never materialized per-row);
    (2) take the single most frequent pair with a total deterministic
    tiebreak (count DESC, then both tokens ASC) — a 1-row relation,
    the one provably broadcast-safe class; (3) rewrite every document
    by the leftmost-greedy non-overlapping merge of that pair, as a
    pure expression-level left fold (``F.aggregate``) — no UDF, no
    shuffle beyond the pair agg.

    Returns ``(doc_id, n_tokens, n_after, encoded_csv)`` with the
    original token count, post-merge count, and the comma-joined
    merged token sequence (merged tokens are space-joined pairs).

    Scale shape: ``merges`` linear corpus scans, each ending in a
    bigram-width aggregate + a 1-row broadcast join; every round's
    token relation is persisted because the pair-count branch and the
    rewrite branch both consume it. Real BPE trainers sample a corpus
    subset for the merge table and then only the encode fold runs
    corpus-wide — the fold here IS that encode path. A document with
    fewer than 2 tokens passes through untouched; an empty corpus
    yields an empty (NULL-pair) merge round that rewrites nothing.
    """
    from pyspark import StorageLevel

    cur = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(text_col).alias("t"),
        F.size(tokens(text_col)).alias("n_tokens"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    for _ in range(merges):
        t = F.col("t")
        idx = F.sequence(F.lit(1), F.size(t) - 1)
        adj = F.when(
            F.size(t) >= 2,
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(t, i.cast("int")).alias("a"),
                    F.element_at(t, (i + 1).cast("int")).alias("b"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        best = (
            cur.select(F.explode(adj).alias("p"))
            .groupBy(F.col("p.a").alias("ma"), F.col("p.b").alias("mb"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("ma"), F.asc("mb"))
            .limit(1)
            .select("ma", "mb")
        )
        init = F.array().cast("array<string>")

        def _fold(acc, x):
            # leftmost-greedy non-overlapping: merge when the pending
            # last token is ma and the incoming one is mb; the merged
            # token may itself seed a later-round merge, never an
            # overlapping same-round one. try_element_at -> NULL on the
            # empty accumulator (and on an empty merge relation ma/mb
            # are NULL), so the condition fails closed to append.
            hit = (F.try_element_at(acc, F.lit(-1)) == F.col("ma")) & (
                x == F.col("mb")
            )
            return F.when(
                hit,
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat_ws(" ", F.col("ma"), F.col("mb"))),
                ),
            ).otherwise(F.concat(acc, F.array(x)))

        cur = (
            # 1-row argmax merge pair; left so an empty merge relation
            # (corpus of <2-token docs) passes rows through unmerged
            cur.join(F.broadcast(best), F.lit(True), "left")
            .withColumn("t", F.aggregate("t", init, _fold))
            .drop("ma", "mb")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    return cur.select(
        "doc_id",
        "n_tokens",
        F.size("t").alias("n_after"),
        F.concat_ws(",", "t").alias("encoded_csv"),
    )


def bpe_encode(
    df: DataFrame,
    merge_table: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encode a corpus with a FROZEN BPE merge table — the 100 TB path.

    :func:`bpe_train_encode` learns merges from the corpus it encodes;
    production BPE trains the merge table once (usually on a sample)
    and then only this encode step runs corpus-wide. Applies each
    ``(a, b)`` merge in table order as the same leftmost-greedy
    non-overlapping expression-level fold — one narrow projection per
    merge, NO shuffle, NO aggregation, NO broadcast: the merge pair is
    a literal, so the whole encode is a single embarrassingly-parallel
    scan regardless of table length. Returns
    ``(doc_id, n_tokens, n_after, encoded_csv)``, the same schema as
    the trainer.
    """
    cur = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(text_col).alias("t"),
        F.size(tokens(text_col)).alias("n_tokens"),
    )
    init = F.array().cast("array<string>")

    def _make_fold(la, lb, merged):
        # factory: F.aggregate introspects the lambda's arity, so the
        # merge literals must be captured by closure, not default args
        def _fold(acc, x):
            hit = (F.try_element_at(acc, F.lit(-1)) == la) & (x == lb)
            return F.when(
                hit,
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
                ),
            ).otherwise(F.concat(acc, F.array(x)))

        return _fold

    for a, b in merge_table:
        fold = _make_fold(F.lit(a), F.lit(b), F.lit(f"{a} {b}"))
        cur = cur.withColumn("t", F.aggregate("t", init, fold))
    return cur.select(
        "doc_id",
        "n_tokens",
        F.size("t").alias("n_after"),
        F.concat_ws(",", "t").alias("encoded_csv"),
    )
