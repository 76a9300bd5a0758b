"""Text-analysis plans over `documents` (E38–E39).

Spark side composes :mod:`..operators.text`; oracles replicate the same
deterministic definitions in DuckDB SQL (regexp_split / list_filter /
md5), so results hash-match exactly — including the float scores, which
are products/logs of identical doubles rounded to 6dp on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..operators import text as T
from ..sources import load_table
from . import register

_SW = ",".join(f"'{w}'" for w in T.QUALITY_STOPWORDS)


@register(
    "text_token_stats",
    oracle=rf"""
    SELECT doc_id,
           len(regexp_split_to_array(lower(trim(text)), '\s+'))       AS n_tokens,
           len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS n_word_tokens,
           length(text)                                               AS n_chars_measured,
           len(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS n_unique_tokens,
           len(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')))::DOUBLE
                 / len(regexp_split_to_array(lower(trim(text)), '\s+')) AS ttr
    FROM documents
    """,
    doc="token counting: whitespace + BPE-ish regex + type/token ratio (E39)",
    tags=("text",),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        T.word_token_count("text").alias("n_word_tokens"),
        F.length("text").alias("n_chars_measured"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("ttr"),
    )


@register(
    "text_quality",
    oracle=rf"""
    WITH b AS (
      SELECT doc_id,
             len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens,
             length(text) AS n_chars,
             len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                 t -> list_contains([{_SW}], t))) AS n_sw,
             len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct
      FROM documents
    )
    SELECT doc_id, n_tokens,
           n_sw::DOUBLE / n_tokens    AS stopword_ratio,
           n_punct::DOUBLE / n_chars  AS punct_ratio,
           (n_chars - n_tokens + 1)::DOUBLE / n_tokens AS mean_token_len,
           LEAST(n_tokens::DOUBLE / 100.0, 1.0) * 0.5
                 + LEAST((n_sw::DOUBLE / n_tokens) * 5.0, 1.0) * 0.3
                 + (1.0 - LEAST((n_punct::DOUBLE / n_chars) * 10.0, 1.0)) * 0.2
               AS quality_score
    FROM b
    """,
    doc="quality scoring: length/punct/stopword ratios + composite (E39)",
    tags=("text",),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.quality_features(docs.select("doc_id", "text"), "text").select(
        "doc_id",
        "n_tokens",
        "stopword_ratio",
        "punct_ratio",
        "mean_token_len",
        "quality_score",
    )


def _langid_oracle() -> str:
    score_cols = []
    for lang, words in T.LANG_STOPWORDS.items():
        lst = ",".join(f"'{w}'" for w in words)
        score_cols.append(
            rf"len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),"
            rf" t -> list_contains([{lst}], t))) AS score_{lang}"
        )
    langs = list(T.LANG_STOPWORDS)
    best = "GREATEST(" + ",".join(f"score_{l}" for l in langs) + ")"
    pred = "'unknown'"
    for lang in reversed(langs):
        pred = f"CASE WHEN score_{lang} = {best} AND {best} > 0 THEN '{lang}' ELSE {pred} END"
    scores = ",\n           ".join(score_cols)
    sel = ",".join(f"score_{l}" for l in langs)
    return f"""
    WITH s AS (
      SELECT doc_id, lang AS labeled_lang,
           {scores}
      FROM documents
    )
    SELECT doc_id, labeled_lang, {sel}, {pred} AS predicted_lang FROM s
    """


@register(
    "text_langid",
    oracle=_langid_oracle(),
    doc="stopword-overlap language-ID heuristic with argmax + tiebreak (E39)",
    tags=("text",),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", F.col("lang").alias("labeled_lang"), *T.langid_scores("text")
    )
    return scored.select(
        "doc_id",
        "labeled_lang",
        *[f"score_{l}" for l in T.LANG_STOPWORDS],
        T.langid_predict().alias("predicted_lang"),
    )


@register(
    "text_fingerprint",
    oracle=r"""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_exact,
           md5(array_to_string(list_sort(list_distinct(
               regexp_split_to_array(lower(trim(text)), '\s+'))), ' ')) AS fp_bag
    FROM documents
    """,
    doc="document fingerprints: normalized-text md5 + order-insensitive "
    "token-bag md5 (E39/E30)",
    tags=("text", "dedup"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.fingerprint_exact("text").alias("fp_exact"),
        T.fingerprint_bag("text").alias("fp_bag"),
    )


@register(
    "text_tfidf_top_terms",
    oracle=r"""
    WITH term_rows AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM term_rows GROUP BY doc_id, term),
    dfc AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM term_rows GROUP BY term),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfc.df,
             ROUND(LN((n.n + 1.0) / (dfc.df + 1.0)), 6) AS idf,
             ROUND(tf.tf * ROUND(LN((n.n + 1.0) / (dfc.df + 1.0)), 6), 6) AS tfidf
      FROM tf JOIN dfc USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, idf, tfidf
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                     ORDER BY tfidf DESC, term) AS rn FROM scored) t
    WHERE rn <= 2
    """,
    doc="TF-IDF with smoothed idf; top-2 terms per doc (E38)",
    tags=("text",),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = T.tf_idf(docs.select("doc_id", "text"))
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select("doc_id", "term", "tf", "df", "idf", "tfidf")
    )


_BM25_TERMS = ["dup", "vector", "hash"]
_BM25_TERMS_SQL = ",".join(f"'{t}'" for t in _BM25_TERMS)


@register(
    "text_bm25_search",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      FROM documents
    ),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(len(t)) AS total_dl FROM toks),
    base AS (
      SELECT doc_id, len(t) AS dl,
             unnest(list_filter(t, x -> list_contains([{_BM25_TERMS_SQL}], x))) AS term
      FROM toks
    ),
    tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM base GROUP BY doc_id, dl, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    w AS (
      SELECT doc_id, dl,
             ROUND(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                   * (tf * (1.2 + 1.0))
                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE
                                  / (total_dl::DOUBLE / n_docs))), 6) AS w
      FROM tf JOIN dfreq USING (term) CROSS JOIN stats
    ),
    scored AS (
      SELECT doc_id, dl, CAST(SUM(CAST(w AS DECIMAL(30,6))) AS DOUBLE) AS bm25
      FROM w GROUP BY doc_id, dl
    )
    SELECT doc_id, dl, bm25 FROM scored ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
    doc="Okapi BM25 top-20 retrieval for a bag-of-terms query (E38/E39): "
    "postings filtered to query terms before the (doc,term) shuffle, "
    "df/corpus stats broadcast, per-term weights decimal-summed; the "
    "final top-k is TakeOrdered (per-partition top-k + k-row merge), "
    "never a global sort",
    tags=("text", "similarity"),
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = T.bm25_scores(docs, _BM25_TERMS)
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(20)


@register(
    "text_token_ids",
    oracle=r"""
    WITH d AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      FROM documents
    ),
    ex AS (
      SELECT doc_id, pos, toks[pos] AS term
      FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS pos
            FROM d) t
    ),
    vocab AS (
      SELECT term,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term) AS token_id
      FROM ex GROUP BY term
    )
    SELECT e.doc_id,
           string_agg(v.token_id, ',' ORDER BY e.pos) AS token_ids_csv
    FROM ex e JOIN vocab v ON e.term = v.term
    GROUP BY e.doc_id
    """,
    doc="corpus tokenization to vocabulary ids (E38/E39, the "
    "text->training-tensors step): vocabulary = terms ranked by "
    "frequency (ties alphabetical) via a DISTRIBUTED exact global "
    "rank (operators/stats.py:global_row_numbers — the vocab grows "
    "with the corpus by Heaps' law, the same reasoning that de-hinted "
    "its broadcast, so it never funnels through one task either); "
    "each document re-encoded as its position-ordered id sequence. "
    "Order restoration is a (pos,id) struct sort inside the group, "
    "not a window. The sequence ships as a CSV string (concat_ws <-> "
    "string_agg): ARRAY final columns are banned registry-wide",
    tags=("text",),
)
def text_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import global_row_numbers

    docs = load_table(spark, sf_dir, "documents")
    ex = docs.select(
        "doc_id", F.posexplode(T.tokens("text")).alias("pos", "term")
    )
    vocab = global_row_numbers(
        ex.groupBy("term").agg(F.count(F.lit(1)).alias("cnt")),
        [F.desc("cnt"), F.asc("term")],
        out_col="token_id",
    ).select("term", "token_id")
    return (
        # vocab is term-dimension-sized (Heaps' law — grows with the
        # corpus): unhinted so AQE only broadcasts it while it fits.
        ex.join(vocab, "term")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token_id"))),
                    lambda s: s["token_id"].cast("string"),
                ),
            ).alias("token_ids_csv")
        )
    )


@register(
    "text_top_bigrams",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      FROM documents
    ),
    bg AS (
      SELECT unnest(CASE WHEN len(t) >= 2 THEN list_transform(
               generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])
             ELSE [] END) AS bigram
      FROM toks
    )
    SELECT bigram, COUNT(*) AS n
    FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 25
    """,
    doc="corpus-wide bigram frequencies, top-25 (E38, the n-gram LM "
    "building block): per-doc bigram arrays (non-distinct, order "
    "preserved) explode into one count aggregation + TakeOrdered — "
    "map-side combine keeps the shuffle at distinct-bigram width",
    tags=("text",),
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(T.ngrams("text", 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(25)
    )


@register(
    "text_normalize_nfc",
    oracle=r"""
    WITH raw AS (
      SELECT doc_id,
             'cafe' || chr(769) || ' No' || chr(776) || 'el ' || text AS raw
      FROM documents
    )
    SELECT doc_id,
           length(raw) AS n_cp_raw,
           length(nfc_normalize(raw)) AS n_cp_nfc,
           md5(nfc_normalize(raw)) AS nfc_fp,
           (nfc_normalize(raw) <> raw) AS changed
    FROM raw ORDER BY doc_id
    """,
    doc="Unicode NFC normalization — the canonicalization step every "
    "multilingual corpus pipeline runs before hashing/dedup (combining "
    "marks vs precomposed chars hash differently while rendering "
    "identically). Spark has no built-in normalizer, so this is the "
    "documented right use of the Python lane: an Arrow-batched "
    "pandas_udf over unicodedata (zero-copy batches, vectorized str "
    "path) — never a row-at-a-time UDF. The corpus is ASCII, so a "
    "deterministic decomposed prefix (combining acute + diaeresis) is "
    "constructed from doc_id on BOTH engines; the normalized strings' "
    "md5, code-point counts, and changed flags are hash-compared "
    "against DuckDB's native nfc_normalize (E9,E32,E39)",
    tags=("text", "udf"),
)
def text_normalize_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    def _nfc(s):  # no annotations: postponed-eval hints break inference
        import unicodedata

        return s.map(lambda x: unicodedata.normalize("NFC", x))

    nfc = pandas_udf(_nfc, "string")

    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(F.lit("café Nöel "), F.col("text"))
    base = docs.select("doc_id", raw.alias("raw")).withColumn(
        "nfc", nfc("raw")
    )
    return base.select(
        "doc_id",
        F.length("raw").alias("n_cp_raw"),
        F.length("nfc").alias("n_cp_nfc"),
        F.md5("nfc").alias("nfc_fp"),
        (F.col("nfc") != F.col("raw")).alias("changed"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# text_quality_calibrated — per-language percentile calibration of the
# quality score. A single global threshold over-filters whichever
# language the heuristic scores low (stopword lists differ in hit
# rate), so production corpus gates calibrate PER LANGUAGE: keep each
# language's top quartile by percent_rank. One window pass over
# (lang | score, doc_id) — doc_id tiebreak makes the rank total and
# engine-identical; the score doubles are bit-identical cross-engine
# (proved by text_quality's unrounded oracle). Aggregated per lang so
# the output is compact at any SF.
# --------------------------------------------------------------------------
@register(
    "text_quality_calibrated",
    oracle=rf"""
    WITH b AS (
      SELECT doc_id, lang,
             len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens,
             length(text) AS n_chars,
             len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                 t -> list_contains([{_SW}], t))) AS n_sw,
             len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct
      FROM documents
    ),
    s AS (
      SELECT doc_id, lang,
             LEAST(n_tokens::DOUBLE / 100.0, 1.0) * 0.5
               + LEAST((n_sw::DOUBLE / n_tokens) * 5.0, 1.0) * 0.3
               + (1.0 - LEAST((n_punct::DOUBLE / n_chars) * 10.0, 1.0)) * 0.2
               AS quality_score
      FROM b
    ),
    r AS (
      SELECT lang, quality_score,
             percent_rank() OVER (PARTITION BY lang
                                  ORDER BY quality_score, doc_id) AS pr
      FROM s
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN pr >= 0.75 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           ROUND(MIN(CASE WHEN pr >= 0.75 THEN quality_score END), 6)
             AS min_kept_r6,
           ROUND(MAX(CASE WHEN pr >= 0.75 THEN quality_score END), 6)
             AS max_kept_r6
    FROM r GROUP BY lang ORDER BY lang
    """,
    doc="per-language percentile calibration of the quality gate: keep "
    "each lang's top quartile by percent_rank over (score, doc_id) — "
    "one window pass, engine-identical ranks (E39/E50 corpus gating)",
    tags=("text", "pipeline"),
)
def text_quality_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    scored = T.quality_features(docs, "text")
    w = W.partitionBy("lang").orderBy("quality_score", "doc_id")
    ranked = scored.select(
        "lang", "quality_score", F.percent_rank().over(w).alias("pr")
    )
    kept = F.col("pr") >= 0.75
    return (
        ranked.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.round(F.min(F.when(kept, F.col("quality_score"))), 6).alias(
                "min_kept_r6"
            ),
            F.round(F.max(F.when(kept, F.col("quality_score"))), 6).alias(
                "max_kept_r6"
            ),
        )
        .orderBy("lang")
    )


def _bpe_ctes(rounds: int = 5) -> str:
    """Unrolled CTE chain mirroring bpe_train_encode round-for-round:
    per round, the adjacent-pair argmax (count DESC, tokens ASC) and
    the leftmost-greedy rewrite as a list_reduce left fold over
    1-element lists (DuckDB's fold needs accumulator type == element
    type, so tokens ride as [token]; the empty VARCHAR[] is prepended
    as the explicit init, matching the Spark fold's empty-array init).
    """
    toks = r"regexp_split_to_array(lower(trim(text)), '\s+')"
    parts = [
        f"t0 AS (SELECT doc_id, {toks} AS t,\n"
        f"        len({toks}) AS n_tokens FROM documents)"
    ]
    for r in range(rounds):
        parts.append(
            f"""p{r} AS (
      SELECT t[i] AS ma, t[i+1] AS mb, COUNT(*) AS cnt
      FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
            FROM t{r})
      GROUP BY 1, 2
    ),
    m{r} AS (SELECT ma, mb FROM p{r} ORDER BY cnt DESC, ma, mb LIMIT 1),
    t{r + 1} AS (
      SELECT doc_id, n_tokens,
             list_reduce(
               [CAST([] AS VARCHAR[])] || list_transform(t, z -> [z]),
               (acc, x) -> CASE
                 WHEN len(acc) > 0 AND acc[-1] = m{r}.ma AND x[1] = m{r}.mb
                 THEN acc[1:len(acc) - 1] || [m{r}.ma || ' ' || m{r}.mb]
                 ELSE acc || x END) AS t
      FROM t{r} LEFT JOIN m{r} ON TRUE
    )"""
        )
    return ",\n    ".join(parts)


@register(
    "text_bpe_encode",
    oracle=f"""
    WITH {_bpe_ctes(5)}
    SELECT doc_id, n_tokens,
           CAST(len(t) AS INT) AS n_after,
           array_to_string(t, ',') AS encoded_csv
    FROM t5 ORDER BY doc_id
    """,
    doc="BPE merge training + re-encoding over the corpus (E38 family, "
    "the subword-tokenizer primitive): 5 rounds of [corpus-wide "
    "adjacent-pair count -> 1-row deterministic argmax (count DESC, "
    "tokens ASC) -> leftmost-greedy non-overlapping merge rewrite as "
    "an expression-level left fold]. The pair relation aggregates at "
    "distinct-bigram width with map-side combine; the only broadcast "
    "is the 1-row merge pair; the rewrite is F.aggregate, no UDF. The "
    "oracle unrolls the same 5 rounds with the fold mirrored by a "
    "list_reduce over 1-element lists, so the merge choices and the "
    "rewritten sequences hash identically. At 100 TB, training "
    "samples a subset for the merge table and only the encode fold "
    "runs corpus-wide — this plan exercises both halves (operator "
    "operators/text.py:bpe_train_encode)",
    tags=("text", "pipeline", "iterative"),
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.bpe_train_encode(docs, "doc_id", "text", merges=5).orderBy(
        "doc_id"
    )


#: Pinned merge table for the frozen-table encode plan — the
#: production contract is "merge table trained once (on a sample),
#: encode runs corpus-wide", so the table is a literal, not derived
#: from the corpus at plan time. Chosen to exercise every fold path on
#: the test corpus: a plain frequent pair; a B-SIDE chain (merge 2's
#: second element IS merge 1's output, e.g. "table table hash"); an
#: A-SIDE chain (merge 3 extends merge 1's output rightward); two more
#: plain pairs including the 1-char token "a"; and a pair absent from
#: the corpus (the no-op fall-through).
_BPE_FROZEN_MERGES: tuple[tuple[str, str], ...] = (
    ("table", "hash"),
    ("table", "table hash"),
    ("table hash", "line"),
    ("merge", "group"),
    ("sort", "a"),
    ("zzz", "qqq"),
)


def _bpe_frozen_ctes(merges: tuple[tuple[str, str], ...]) -> str:
    """Unrolled literal-pair fold chain: one list_reduce CTE per merge,
    same 1-element-list accumulator trick as :func:`_bpe_ctes` but with
    the pair as SQL literals — no argmax CTEs, mirroring the fact that
    the frozen-table encode aggregates nothing."""
    toks = r"regexp_split_to_array(lower(trim(text)), '\s+')"
    parts = [
        f"t0 AS (SELECT doc_id, {toks} AS t,\n"
        f"        len({toks}) AS n_tokens FROM documents)"
    ]
    for r, (a, b) in enumerate(merges):
        parts.append(
            f"""t{r + 1} AS (
      SELECT doc_id, n_tokens,
             list_reduce(
               [CAST([] AS VARCHAR[])] || list_transform(t, z -> [z]),
               (acc, x) -> CASE
                 WHEN len(acc) > 0 AND acc[-1] = '{a}' AND x[1] = '{b}'
                 THEN acc[1:len(acc) - 1] || ['{a} {b}']
                 ELSE acc || x END) AS t
      FROM t{r}
    )"""
        )
    return ",\n    ".join(parts)


@register(
    "text_bpe_frozen_encode",
    oracle=f"""
    WITH {_bpe_frozen_ctes(_BPE_FROZEN_MERGES)}
    SELECT doc_id, n_tokens,
           CAST(len(t) AS INT) AS n_after,
           array_to_string(t, ',') AS encoded_csv
    FROM t{len(_BPE_FROZEN_MERGES)} ORDER BY doc_id
    """,
    doc="FROZEN-merge-table BPE encode (E38) — the actual 100 TB "
    "tokenization path: the merge table is trained once offline "
    "(text_bpe_encode exercises that half) and the corpus-wide encode "
    "applies each literal (a, b) merge in table order as the same "
    "leftmost-greedy non-overlapping F.aggregate fold — one narrow "
    "projection per merge, ZERO shuffle / aggregation / broadcast "
    "whatever the table length (no-Exchange pin in "
    "tests/test_empty_inputs.py; the only exchange in this plan is "
    "the final presentation ORDER BY). The pinned table exercises "
    "chained merges in both directions (a merged token seeding a "
    "later merge as either side) and a no-op pair; the oracle unrolls "
    "the same literal folds via list_reduce over 1-element lists "
    "(operator operators/text.py:bpe_encode)",
    tags=("text", "pipeline"),
)
def text_bpe_frozen_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.bpe_encode(
        docs, list(_BPE_FROZEN_MERGES), "doc_id", "text"
    ).orderBy("doc_id")


@register(
    "search_hybrid_rrf",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      FROM documents
    ),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(len(t)) AS total_dl FROM toks),
    base AS (
      SELECT doc_id, len(t) AS dl,
             unnest(list_filter(t, x -> list_contains([{_BM25_TERMS_SQL}], x))) AS term
      FROM toks
    ),
    tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM base GROUP BY doc_id, dl, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    w AS (
      SELECT doc_id,
             ROUND(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                   * (tf * (1.2 + 1.0))
                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE
                                  / (total_dl::DOUBLE / n_docs))), 6) AS w
      FROM tf JOIN dfreq USING (term) CROSS JOIN stats
    ),
    bm AS (
      SELECT doc_id, CAST(SUM(CAST(w AS DECIMAL(30,6))) AS DOUBLE) AS bm25
      FROM w GROUP BY doc_id
    ),
    lex AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
      FROM bm
    ),
    raw AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    e AS (
      SELECT vec_id,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
      FROM raw
    ),
    q AS (SELECT u AS qu FROM e WHERE vec_id = 0),
    vec AS (
      SELECT vec_id AS doc_id,
             ROW_NUMBER() OVER (
               ORDER BY list_dot_product(u, qu) DESC, vec_id) AS r_vec
      FROM e CROSS JOIN q
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id, l.r_lex, v.r_vec,
             COALESCE(1.0 / (60 + l.r_lex), 0)
               + COALESCE(1.0 / (60 + v.r_vec), 0) AS rrf
      FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
    )
    SELECT doc_id, r_lex, r_vec, ROUND(rrf, 6) AS rrf
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
    """,
    doc="HYBRID retrieval with Reciprocal Rank Fusion (E38/E40 "
    "composition; Cormack et al. 2009): the standard modern search "
    "stack — a lexical BM25 ranking (same query bag and decimal-summed "
    "scores as text_bm25_search) fused with a dense cosine ranking "
    "(query = embedding 0) by rrf = sum 1/(60+rank). Both rankings "
    "are EXACT DISTRIBUTED ranks (operators/stats.py:"
    "global_row_numbers — never a single-task window); a doc absent "
    "from the lexical list (no query term) contributes only its "
    "vector rank, which the full outer join + coalesce expresses. "
    "RRF arithmetic is integer-rank reciprocals — bit-equal IEEE "
    "doubles in both engines before the 6-dp presentation rounding. "
    "At 100 TB the dense side would rank ANN candidates "
    "(ann_topk_ivf) instead of the full corpus; the fusion shape is "
    "identical (EXT, retrieval)",
    tags=("text", "similarity", "pipeline"),
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import vec_dot, with_unit_vector
    from ..operators.stats import global_row_numbers

    docs = load_table(spark, sf_dir, "documents")
    lex = global_row_numbers(
        T.bm25_scores(docs, _BM25_TERMS),
        [F.desc("bm25"), F.asc("doc_id")],
        out_col="r_lex",
    ).select("doc_id", "r_lex")

    emb = with_unit_vector(
        load_table(spark, sf_dir, "embeddings"), "embedding", "__u"
    )
    q = emb.where(F.col("vec_id") == 0).select(F.col("__u").alias("__qu"))
    scored = emb.crossJoin(F.broadcast(q)).withColumn(
        "cosine", vec_dot("__u", "__qu")
    )
    vec = global_row_numbers(
        scored, [F.desc("cosine"), F.asc("vec_id")], out_col="r_vec"
    ).select(F.col("vec_id").alias("doc_id"), "r_vec")

    fused = lex.join(vec, "doc_id", "full").select(
        "doc_id", "r_lex", "r_vec", (_rrf("r_lex") + _rrf("r_vec")).alias("rrf")
    )
    return (
        fused.select("doc_id", "r_lex", "r_vec", F.round("rrf", 6).alias("rrf"))
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(10)
    )


# Query batch for the batched hybrid-retrieval plan: q0 is the single-
# query plan's bag; the dense twins are embeddings 0/1/2.
_RRF_QUERIES: dict[int, list[str]] = {
    0: list(_BM25_TERMS),
    1: ["stream", "window", "merge"],
    2: ["customer", "query", "filter"],
}
_RRF_ALL_TERMS_SQL = ",".join(
    f"'{t}'" for t in sorted({t for ts in _RRF_QUERIES.values() for t in ts})
)
_RRF_QTERMS_SQL = ",".join(
    f"({q},'{t}')" for q, ts in sorted(_RRF_QUERIES.items()) for t in ts
)

# The batched hybrids are one composition: a lexical side (q_id, doc_id,
# r_lex), a dense side (q_id, doc_id, r_vec) and one fusion tail. Each
# piece exists once per engine below; a plan differs only in its dense
# side and its fused-score expression.


def _hybrid_lex_ctes() -> str:
    """The shared lexical half of the batched hybrid oracles: one BM25
    pass over the corpus for all query bags (mirrors
    operators/text.py:bm25_scores_multi), ranked per query. Emits CTEs
    toks/stats/qterms/base/tf/dfreq/w/bm/lex."""
    return rf"""toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      FROM documents
    ),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(len(t)) AS total_dl FROM toks),
    qterms(q_id, term) AS (VALUES {_RRF_QTERMS_SQL}),
    base AS (
      SELECT doc_id, len(t) AS dl,
             unnest(list_filter(t, x -> list_contains([{_RRF_ALL_TERMS_SQL}], x))) AS term
      FROM toks
    ),
    tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM base GROUP BY doc_id, dl, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    w AS (
      SELECT doc_id, term,
             ROUND(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                   * (tf * (1.2 + 1.0))
                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE
                                  / (total_dl::DOUBLE / n_docs))), 6) AS w
      FROM tf JOIN dfreq USING (term) CROSS JOIN stats
    ),
    bm AS (
      SELECT q.q_id, w.doc_id,
             CAST(SUM(CAST(w AS DECIMAL(30,6))) AS DOUBLE) AS bm25
      FROM w JOIN qterms q USING (term) GROUP BY q.q_id, w.doc_id
    ),
    lex AS (
      SELECT q_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY bm25 DESC, doc_id) AS r_lex
      FROM bm
    )"""


def _hybrid_exact_vec_ctes() -> str:
    """The exact dense half of the batched hybrid oracles: the whole
    corpus unit-normalized and ranked by cosine against each query
    embedding (vec_id 0/1/2). Emits CTEs raw/e/qv/vec."""
    return """raw AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    e AS (
      SELECT vec_id,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
      FROM raw
    ),
    qv AS (
      SELECT CAST(vec_id AS INTEGER) AS q_id, u AS qu
      FROM e WHERE vec_id < 3
    ),
    vec AS (
      SELECT q_id, vec_id AS doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY q_id
               ORDER BY list_dot_product(u, qu) DESC, vec_id) AS r_vec
      FROM e CROSS JOIN qv
    )"""


def _hybrid_adc_vec_ctes() -> str:
    """The ADC dense half of the PQ and IVFPQ hybrid oracles: the
    quantizer chain's ``scored`` approximate cosines shortlisted to the
    top 50 per query, then exactly re-ranked on the ``uu`` unit vectors
    (mirrors the refine tail of operators/similarity.py). Emits CTEs
    short/ref/vec."""
    return """short AS (
      SELECT q_id, vid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                    ORDER BY approx_cosine DESC, vid) AS arank
        FROM scored
      ) WHERE arank <= 50
    ),
    ref AS (
      SELECT s.q_id, s.vid, list_dot_product(cu.u, qu.u) AS cosine
      FROM short s
      JOIN uu cu ON cu.vid = s.vid
      JOIN uu qu ON qu.vid = s.q_id
    ),
    vec AS (
      SELECT CAST(q_id AS INTEGER) AS q_id, vid AS doc_id,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, vid) AS r_vec
      FROM ref
    )"""


_RRF_SUM_SQL = (
    "COALESCE(1.0 / (60 + l.r_lex), 0) + COALESCE(1.0 / (60 + v.r_vec), 0)"
)


def _hybrid_fuse_sql(rrf: str = _RRF_SUM_SQL, alpha: str = "") -> str:
    """The shared tail of the batched hybrid oracles (mirrors
    :func:`_rrf_fuse_top5`): ``lex`` and ``vec`` full-outer-joined on
    (q_id, doc_id), scored by ``rrf`` (an expression over ``l.r_lex``
    and ``v.r_vec``), top-5 per query. ``alpha`` names a (q_id, alpha)
    weight relation; it is inner-joined as ``a`` on the fused q_id and
    its ``alpha`` rides to the output. Emits CTEs fused/topr and the
    final SELECT."""
    pick = carry = join = ""
    if alpha:
        pick, carry = " a.alpha,", " alpha,"
        join = f"JOIN {alpha} a ON a.q_id = COALESCE(l.q_id, v.q_id)"
    return f"""fused AS (
      SELECT COALESCE(l.q_id, v.q_id) AS q_id,
             COALESCE(l.doc_id, v.doc_id) AS doc_id,
             l.r_lex, v.r_vec,{pick}
             {rrf} AS rrf
      FROM lex l FULL OUTER JOIN vec v
        ON l.q_id = v.q_id AND l.doc_id = v.doc_id
      {join}
    ),
    topr AS (
      SELECT q_id, doc_id, r_lex, r_vec,{carry} rrf,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY rrf DESC, doc_id) AS rk
      FROM fused
    )
    SELECT q_id, doc_id, r_lex, r_vec,{carry} ROUND(rrf, 6) AS rrf
    FROM topr WHERE rk <= 5 ORDER BY q_id, doc_id"""


def _lex_spark_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared lexical half of the batched hybrid plans: one corpus text
    scan scores all BM25 bags, ranked per query by an exact distributed
    grouped_row_numbers rank. Returns (q_id, doc_id, r_lex)."""
    from ..operators.stats import grouped_row_numbers

    docs = load_table(spark, sf_dir, "documents")
    bm = T.bm25_scores_multi(docs, _RRF_QUERIES)
    return grouped_row_numbers(
        bm, ["q_id"], [F.desc("bm25"), F.asc("doc_id")], out_col="r_lex"
    ).select("q_id", "doc_id", "r_lex")


def _exact_vec_spark_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared exact dense half of the batched hybrid plans: every corpus
    unit vector scored against the broadcast query embeddings (vec_id
    0/1/2), ranked per query by an exact distributed
    grouped_row_numbers rank. Returns (q_id, doc_id, r_vec)."""
    from ..functions.vectors import vec_dot, with_unit_vector
    from ..operators.stats import grouped_row_numbers

    emb = with_unit_vector(
        load_table(spark, sf_dir, "embeddings"), "embedding", "__u"
    )
    qv = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").cast("int").alias("q_id"), F.col("__u").alias("__qu")
    )
    scored = emb.crossJoin(F.broadcast(qv)).withColumn(
        "cosine", vec_dot("__u", "__qu")
    )
    return grouped_row_numbers(
        scored, ["q_id"], [F.desc("cosine"), F.asc("vec_id")], out_col="r_vec"
    ).select("q_id", F.col("vec_id").alias("doc_id"), "r_vec")


def _adc_vec_spark_side(dense: DataFrame) -> DataFrame:
    """A refined ADC top-k (pq_topk / ivfpq_topk with ``k=refine``) as
    the dense half of a batched hybrid: (q_id, doc_id, r_vec)."""
    return dense.select(
        F.col("q_id").cast("int").alias("q_id"),
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("r_vec"),
    )


def _rrf(rank_col: str) -> Column:
    """One ranking's RRF term 1/(60 + rank); 0 for a doc it misses."""
    return F.coalesce(F.lit(1.0) / (F.lit(60) + F.col(rank_col)), F.lit(0.0))


def _rrf_fuse_top5(
    lex: DataFrame,
    vec: DataFrame,
    rrf: Column | None = None,
    alpha: DataFrame | None = None,
) -> DataFrame:
    """RRF fusion + per-query top-5, the shared tail of the batched
    hybrid plans: a full outer join so a doc missing from one ranking
    still scores, then exact distributed fused ranks. ``rrf`` is the
    fused-score expression (default: the unweighted sum of both RRF
    terms). ``alpha`` is a per-query (q_id, alpha) weight relation,
    inner-joined on the fused q_id; its ``alpha`` rides to the
    output."""
    from ..operators.stats import grouped_row_numbers

    fused = lex.join(vec, ["q_id", "doc_id"], "full")
    carry: list[str] = []
    if alpha is not None:
        fused = fused.join(F.broadcast(alpha), "q_id")
        carry = ["alpha"]
    if rrf is None:
        rrf = _rrf("r_lex") + _rrf("r_vec")
    top = grouped_row_numbers(
        fused.withColumn("rrf", rrf),
        ["q_id"],
        [F.desc("rrf"), F.asc("doc_id")],
        out_col="__rk",
    )
    return (
        top.where(F.col("__rk") <= 5)
        .select(
            "q_id", "doc_id", "r_lex", "r_vec", *carry,
            F.round("rrf", 6).alias("rrf"),
        )
        .orderBy("q_id", "doc_id")
    )


@register(
    "search_hybrid_rrf_batch",
    oracle=f"""
    WITH {_hybrid_lex_ctes()},
    {_hybrid_exact_vec_ctes()},
    {_hybrid_fuse_sql()}
    """,
    doc="BATCHED hybrid retrieval with Reciprocal Rank Fusion (the "
    "query-relation generalization of search_hybrid_rrf): three "
    "queries — each a BM25 term bag paired with a dense query "
    "embedding (vec_id 0/1/2) — fused per query by rrf = sum "
    "1/(60+rank), top-5 per query. ONE corpus scan scores all "
    "lexical bags (operators/text.py:bm25_scores_multi — postings "
    "join a broadcast query-dimension (q_id, term) relation); every "
    "per-query ranking is an EXACT DISTRIBUTED rank via "
    "operators/stats.py:grouped_row_numbers (one global_row_numbers "
    "pass over the (q_id, score) composite order + a |queries|-sized "
    "offset join) — NEVER a q_id-partitioned window, which is "
    "lint-clean but still funnels |corpus| rows per query through "
    "one task. A doc missing from a query's lexical list contributes "
    "only its vector rank (full outer join + coalesce). The lexical "
    "side, the exact dense side and the fusion tail are the shared "
    "pieces every batched hybrid composes (_lex_spark_side, "
    "_exact_vec_spark_side, _rrf_fuse_top5). At 100 TB the "
    "dense side ranks ANN candidates (ann_topk_ivf) per query; the "
    "fusion and rank machinery are unchanged (EXT, retrieval)",
    tags=("text", "similarity", "pipeline"),
)
def search_hybrid_rrf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    lex = _lex_spark_side(spark, sf_dir)
    return _rrf_fuse_top5(lex, _exact_vec_spark_side(spark, sf_dir))


def _hybrid_ann_kmeans_ctes() -> str:
    """Trained-quantizer CTEs for the batch-ANN hybrid oracle — the
    attested k-means chain (plans/clustering.py:_kmeans_ctes), with
    the bounded vid<512 training sample the serving plans use."""
    from .clustering import _TRAIN_N, _kmeans_ctes

    return _kmeans_ctes(k=4, iters=2, final_assign=True, train_n=_TRAIN_N)


@register(
    "search_hybrid_rrf_batch_ann",
    oracle=f"""
    WITH {_hybrid_ann_kmeans_ctes()},
    {_hybrid_lex_ctes()},
    u AS (
      SELECT vid, cid,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
      FROM a3
    ),
    qprobe AS (
      SELECT CAST(vid AS INTEGER) AS q_id, cid AS cell FROM (
        SELECT vid, cid,
               ROW_NUMBER() OVER (PARTITION BY vid ORDER BY dist2, cid) AS rn
        FROM s3
      ) WHERE rn <= 2 AND vid < 3
    ),
    qv AS (
      SELECT CAST(vid AS INTEGER) AS q_id, u AS qu
      FROM u WHERE vid < 3
    ),
    cand AS (
      SELECT p.q_id, c.vid AS doc_id, list_dot_product(q.qu, c.u) AS cosine
      FROM qprobe p
      JOIN u c ON c.cid = p.cell
      JOIN qv q ON q.q_id = p.q_id
    ),
    vec AS (
      SELECT q_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, doc_id) AS r_vec
      FROM cand
    ),
    {_hybrid_fuse_sql()}
    """,
    doc="batched hybrid RRF with an ANN DENSE SIDE (the end-to-end "
    "100 TB shape search_hybrid_rrf_batch documents): the same three "
    "(BM25 bag, dense query embedding) queries, but each query's "
    "vector ranking covers only its IVF CANDIDATE SET — the corpus "
    "vectors whose trained-quantizer cell (k=4, 2 Lloyd rounds, the "
    "attested kmeans_centroids chain) is among the query's TWO "
    "nearest cells (kmeans_assign_topn multiprobe, the attested "
    "ann_topk_multiprobe machinery) — instead of the full corpus. "
    "Docs outside the probed cells contribute only their lexical "
    "rank (full outer join + coalesce), exactly how a production "
    "retrieval stack degrades: ANN recall loss shifts fused ranks, "
    "it never drops lexical hits. Scale shape: ONE corpus text scan "
    "for all BM25 bags (bm25_scores_multi), ONE corpus embedding "
    "scan for assignment; candidates = cell-equi-join against a "
    "broadcast query-dimension probe relation; every ranking is an "
    "exact distributed grouped_row_numbers rank over the (bounded) "
    "candidate relation — never a q_id-partitioned corpus window. "
    "Dense-side recall vs the exact full-corpus ranking is pinned in "
    "tests/test_ann_recall.py (EXT, retrieval)",
    tags=("text", "similarity", "pipeline", "iterative"),
)
def search_hybrid_rrf_batch_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    from ..functions.vectors import as_double_array, vec_divide, vec_dot
    from ..operators.clustering import (
        kmeans_assign,
        kmeans_assign_topn,
        kmeans_centroids,
    )
    from ..operators.stats import grouped_row_numbers
    from .clustering import _TRAIN_N

    lex = _lex_spark_side(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        F.col("vec_id").alias("vid"), as_double_array("embedding").alias("v")
    )
    cent = kmeans_centroids(
        emb, "vec_id", "embedding", k=4, iters=2, train_limit=_TRAIN_N
    )
    nrm = F.sqrt(vec_dot("v", "v"))
    # persisted: the query side and the corpus side both consume the
    # assigned+normalized relation (same reason as ann_topk_multiprobe)
    unit = (
        kmeans_assign(e, cent)
        .withColumn("u", vec_divide("v", nrm))
        .select("vid", "cid", "u")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    probes = kmeans_assign_topn(e.where(F.col("vid") < 3), cent, n=2).select(
        F.col("vid").cast("int").alias("q_id"), F.col("cid").alias("cell")
    )
    qv = unit.where(F.col("vid") < 3).select(
        F.col("vid").cast("int").alias("q_id"), F.col("u").alias("qu")
    )
    cand = (
        unit.select(
            F.col("vid").alias("doc_id"),
            F.col("cid").alias("cell"),
            F.col("u").alias("cu"),
        )
        .join(F.broadcast(probes), "cell")
        .join(F.broadcast(qv), "q_id")
        .withColumn("cosine", vec_dot("qu", "cu"))
    )
    vec = grouped_row_numbers(
        cand, ["q_id"], [F.desc("cosine"), F.asc("doc_id")], out_col="r_vec"
    ).select("q_id", "doc_id", "r_vec")
    return _rrf_fuse_top5(lex, vec)


#: Lexical weight for the alpha-weighted RRF plan. PLUGGABLE: a
#: production stack tunes this per corpus/eval set; 0.7 expresses a
#: lexical-leaning deployment (e.g. code or exact-entity search).
_RRF_ALPHA = 0.7
_RRF_WEIGHTED_SQL = (
    f"CAST({_RRF_ALPHA} AS DOUBLE) * COALESCE(1.0 / (60 + l.r_lex), 0)"
    f" + CAST({1.0 - _RRF_ALPHA} AS DOUBLE) * COALESCE(1.0 / (60 + v.r_vec), 0)"
)


@register(
    "search_hybrid_rrf_weighted",
    oracle=f"""
    WITH {_hybrid_lex_ctes()},
    {_hybrid_exact_vec_ctes()},
    {_hybrid_fuse_sql(_RRF_WEIGHTED_SQL)}
    """,
    doc="ALPHA-WEIGHTED batched hybrid RRF (the tuning knob production "
    "hybrid search exposes): rrf = "
    "alpha/(60+r_lex) + (1-alpha)/(60+r_vec) with alpha = 0.7 — a "
    "lexical-leaning fusion for exact-entity-heavy corpora; alpha is "
    "the pluggable policy constant and is mirrored literally into the "
    "oracle. Same lexical side, exact dense side and fusion tail as "
    "search_hybrid_rrf_batch (one corpus text scan for all BM25 bags "
    "via bm25_scores_multi, one embedding scan, every per-query "
    "ranking an exact distributed grouped_row_numbers rank, full outer "
    "fuse so a doc missing from one ranking still scores); only the "
    "fused-score expression differs. The weight multiplies integer-rank "
    "reciprocals, so the doubles stay bit-identical cross-engine "
    "before the 6-dp presentation rounding (EXT, retrieval)",
    tags=("text", "similarity", "pipeline"),
)
def search_hybrid_rrf_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    lex = _lex_spark_side(spark, sf_dir)
    rrf = (
        F.lit(_RRF_ALPHA) * _rrf("r_lex")
        + F.lit(1.0 - _RRF_ALPHA) * _rrf("r_vec")
    )
    return _rrf_fuse_top5(lex, _exact_vec_spark_side(spark, sf_dir), rrf)


def _hybrid_pq_ctes() -> str:
    """Trained product-quantizer CTEs for the batch-PQ hybrid oracle —
    the attested PQ chain (plans/clustering.py:_pq_ctes) at the same
    hyper-parameters as ann_topk_pq_refine (incl. the bounded vid<512
    training sample), with the three hybrid query embeddings as the
    query relation."""
    from .clustering import _TRAIN_N, _pq_ctes

    return _pq_ctes(m=16, d=4, k=16, iters=2, n_q=3, train_n=_TRAIN_N)


@register(
    "search_hybrid_rrf_batch_pq",
    oracle=f"""
    WITH {_hybrid_pq_ctes()},
    {_hybrid_lex_ctes()},
    {_hybrid_adc_vec_ctes()},
    {_hybrid_fuse_sql()}
    """,
    doc="batched hybrid RRF with a PQ/REFINE dense side — the "
    "memory-bound counterpart of search_hybrid_rrf_batch_ann's IVF "
    "side, joining the batched hybrid to the PQ story at 100 TB: the "
    "same three (BM25 bag, dense "
    "query embedding) queries, but each query's vector candidates "
    "come from the trained product-quantizer's ADC scan "
    "(operators/similarity.py:pq_topk — 16 subspace codebooks, "
    "per-query (s,code) dot LUT broadcast, compressed-domain scores "
    "folded in subspace order), shortlisted to the ADC top-50 and "
    "exactly re-ranked on raw unit vectors (FAISS IndexRefine). Docs "
    "outside the shortlist contribute only their lexical rank (full "
    "outer join + coalesce) — ANN recall loss shifts fused ranks, "
    "never drops lexical hits. Scale shape: ONE corpus text scan for "
    "all BM25 bags; the dense corpus is scanned as ~2% code bytes "
    "(the PQ memory play — no raw-vector shuffle anywhere); the "
    "exact pass touches 50 x |queries| vectors; every per-query rank "
    "(ADC shortlist, exact re-rank, lexical, fused) is an exact "
    "distributed grouped_row_numbers rank — never a q_id-partitioned "
    "corpus window. Dense-side recall + lexical-rank agreement vs "
    "the exact batch plan pinned in tests/test_ann_recall.py (EXT, "
    "retrieval)",
    tags=("text", "similarity", "pipeline", "iterative"),
)
def search_hybrid_rrf_batch_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pq_topk
    from .clustering import _TRAIN_N

    lex = _lex_spark_side(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    # ADC top-50 shortlist per query, exactly re-ranked (refine);
    # k=refine keeps every re-ranked candidate as the dense ranking
    dense = pq_topk(
        emb, emb.where(F.col("vec_id") < 3), "vec_id", "embedding",
        m=16, codes_k=16, iters=2, k=50, n_dims=64, refine=50,
        train_limit=_TRAIN_N, truncate_shortlist=True,
    )
    return _rrf_fuse_top5(lex, _adc_vec_spark_side(dense))


def _hybrid_ivfpq_ctes() -> str:
    """Trained IVFADC CTEs for the batch-IVFPQ hybrid oracle — the
    attested IVFADC chain (plans/clustering.py:_ivfpq_ctes) at the
    same hyper-parameters as ann_topk_ivfpq (incl. the bounded vid<512
    training sample), with the three hybrid query embeddings as the
    query relation."""
    from .clustering import _TRAIN_N, _ivfpq_ctes

    return _ivfpq_ctes(
        k_coarse=4, coarse_iters=2, n_probe=2, m=16, d=4,
        codes_k=16, iters=2, n_q=3, train_n=_TRAIN_N,
    )


@register(
    "search_hybrid_rrf_batch_ivfpq",
    oracle=f"""
    WITH {_hybrid_ivfpq_ctes()},
    {_hybrid_lex_ctes()},
    {_hybrid_adc_vec_ctes()},
    {_hybrid_fuse_sql()}
    """,
    doc="batched hybrid RRF with an IVFADC DENSE SIDE — the full FAISS "
    "IndexIVFPQ+IndexRefine retrieval story composed into the hybrid, "
    "uniting the two prior dense options: "
    "the batch_ann side prunes cells but scans raw vectors, the "
    "batch_pq side compresses to codes but scans every cell; this "
    "side does BOTH — each query's candidates are the RESIDUAL-PQ "
    "codes of its 2 nearest coarse cells (operators/similarity.py:"
    "ivfpq_topk — bounded vid<512 trainer, cell-equi-join against the "
    "broadcast probe relation, ADC via the exact qu.c + qu.r "
    "decomposition), shortlisted to the ADC top-50 and exactly "
    "re-ranked on raw unit vectors. Docs outside the probed cells "
    "contribute only their lexical rank (full outer join + coalesce) "
    "— ANN recall loss shifts fused ranks, never drops lexical hits. "
    "Scale shape: ONE corpus text scan for all BM25 bags; the dense "
    "corpus is scanned as ~2% code bytes AND only in the probed cells "
    "(~n_probe/k_coarse of them); the exact pass touches 50 x "
    "|queries| vectors; every per-query rank is an exact distributed "
    "grouped_row_numbers rank. Dense-side recall floor pinned in "
    "tests/test_ann_recall.py (EXT, retrieval)",
    tags=("text", "similarity", "pipeline", "iterative"),
)
def search_hybrid_rrf_batch_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivfpq_topk
    from .clustering import _TRAIN_N

    lex = _lex_spark_side(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    # IVFADC shortlist (probed cells only, compressed-domain ADC) with
    # exact top-50 refine; k=refine keeps every re-ranked candidate as
    # the dense ranking, same contract as the PQ hybrid
    dense = ivfpq_topk(
        emb, emb.where(F.col("vec_id") < 3), "vec_id", "embedding",
        k_coarse=4, coarse_iters=2, n_probe=2,
        m=16, codes_k=16, iters=2, k=50, n_dims=64, refine=50,
        train_limit=_TRAIN_N, truncate_shortlist=True,
    )
    return _rrf_fuse_top5(lex, _adc_vec_spark_side(dense))


#: Per-query fusion weights for the alpha-as-data hybrid plan: the
#: lexical weight RIDES THE QUERY RELATION (a column, not a plan
#: literal) — the per-tenant/per-segment tuning production hybrid
#: search ships (e.g. entity-heavy queries lean lexical, exploratory
#: ones lean dense). Values are also the oracle's VALUES list.
_RRF_QUERY_ALPHA: dict[int, float] = {0: 0.7, 1: 0.5, 2: 0.3}
_RRF_QALPHA_SQL = ",".join(
    f"({q},CAST({a} AS DOUBLE))" for q, a in sorted(_RRF_QUERY_ALPHA.items())
)
_RRF_QALPHA_SCORE_SQL = (
    "a.alpha * COALESCE(1.0 / (60 + l.r_lex), 0)"
    " + (1.0 - a.alpha) * COALESCE(1.0 / (60 + v.r_vec), 0)"
)


@register(
    "search_hybrid_rrf_alpha_col",
    oracle=f"""
    WITH {_hybrid_lex_ctes()},
    {_hybrid_exact_vec_ctes()},
    qalpha(q_id, alpha) AS (VALUES {_RRF_QALPHA_SQL}),
    {_hybrid_fuse_sql(_RRF_QALPHA_SCORE_SQL, alpha="qalpha")}
    """,
    doc="batched hybrid RRF with PER-QUERY fusion weights AS DATA: "
    "alpha rides the query relation as a "
    "column — (q_id 0,1,2) fuse at alpha 0.7/0.5/0.3 — instead of "
    "one plan-literal weight, which is how production hybrid search "
    "ships per-tenant/per-segment tuning (entity-heavy tenants lean "
    "lexical, exploratory ones lean dense) without a plan change per "
    "tenant. rrf = alpha/(60+r_lex) + (1-alpha)/(60+r_vec); the "
    "alpha relation is query-dimension-sized and broadcast — ZERO "
    "new scan shape vs search_hybrid_rrf_batch (the same lexical "
    "side, exact dense side and fusion tail; the fusion tail takes "
    "the alpha relation as its per-query weights, an INNER join keyed "
    "on the fused q_id so every surviving row carries its weight). "
    "The weight multiplies integer-rank "
    "reciprocals, bit-identical cross-engine before the 6-dp "
    "presentation rounding; alpha is emitted as an output column so "
    "the knob is auditable per row (EXT, retrieval)",
    tags=("text", "similarity", "pipeline"),
)
def search_hybrid_rrf_alpha_col(spark: SparkSession, sf_dir: str) -> DataFrame:
    lex = _lex_spark_side(spark, sf_dir)
    vec = _exact_vec_spark_side(spark, sf_dir)
    alpha = spark.createDataFrame(
        sorted(_RRF_QUERY_ALPHA.items()), "q_id int, alpha double"
    )
    rrf = (
        F.col("alpha") * _rrf("r_lex")
        + (F.lit(1.0) - F.col("alpha")) * _rrf("r_vec")
    )
    return _rrf_fuse_top5(lex, vec, rrf, alpha=alpha)
