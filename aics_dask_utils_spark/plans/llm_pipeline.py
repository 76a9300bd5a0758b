"""LLM-training-data pipeline plans over `documents` (E38–E39 extensions).

Three operators every large-scale corpus pipeline needs beyond basic
quality scoring:

- **decontamination** — flag training documents sharing word n-grams
  with a held-out evaluation set. The eval side is tiny relative to the
  corpus (benchmarks are ~1e5 n-grams vs ~1e11 training docs), so the
  distinct eval-n-gram relation is broadcast: the 100 TB scan never
  shuffles, each task probes a hash set. This is the standard
  "13-gram overlap" recipe (GPT-3/PaLM appendices) at k=5 to suit the
  ~40-token synthetic docs.
- **repetition stats** — Gopher-style duplicate-bigram and top-bigram
  fractions; high values indicate boilerplate/spam. Pure
  explode→two-level aggregate; integer-derived doubles so the oracle
  hash-matches bit-exactly.
- **PII redaction** — regex find/replace-count for email- and
  phone-shaped spans. Patterns chosen to behave identically under
  Java regex (Spark) and RE2 (DuckDB). The synthetic corpus contains
  no PII, so a deterministic PII-bearing prefix is constructed from
  `doc_id` on BOTH engines — the regexes then have real positives to
  find and redact.

All three stay entirely in whole-stage codegen (no Python UDF), which
is what makes them viable over 100 TB of text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.binding import let
from ..operators import text as T
from ..sources import load_table
from . import register

#: Which `source` partition plays the held-out benchmark in the
#: decontamination plan.
EVAL_SOURCE = "src0"

#: Stopword list spliced into the quality-gate oracle SQL.
_SW_GATE = ",".join(f"'{w}'" for w in T.QUALITY_STOPWORDS)

_EMAIL_RE = r"[a-z0-9]+@[a-z0-9.]+"
_PHONE_RE = r"[0-9]{3}-[0-9]{4}"


@register(
    "text_decontaminate",
    oracle=rf"""
    WITH grams AS (
      SELECT doc_id, source,
             list_distinct(list_transform(
                 range(1, len(regexp_split_to_array(lower(trim(text)), '\s+')) - 3),
                 i -> array_to_string(
                        (regexp_split_to_array(lower(trim(text)), '\s+'))[i:i+4], ' ')
             )) AS ngs
      FROM documents
    ),
    eval_ng AS (
      SELECT DISTINCT unnest(ngs) AS ng FROM grams WHERE source = '{EVAL_SOURCE}'
    ),
    train AS (SELECT doc_id, ngs FROM grams WHERE source <> '{EVAL_SOURCE}'),
    hits AS (
      SELECT tr.doc_id, COUNT(*) AS n_contaminated
      FROM (SELECT doc_id, unnest(ngs) AS ng FROM train) tr
      JOIN eval_ng USING (ng)
      GROUP BY tr.doc_id
    )
    SELECT t.doc_id,
           len(t.ngs) AS n_ngrams,
           COALESCE(h.n_contaminated, 0) AS n_contaminated,
           COALESCE(h.n_contaminated, 0)::DOUBLE / len(t.ngs) AS contamination_ratio,
           CAST(COALESCE(h.n_contaminated, 0) > 0 AS INT) AS contaminated
    FROM train t LEFT JOIN hits h USING (doc_id)
    """,
    doc="benchmark decontamination: distinct 5-gram overlap of training "
    "docs (source != src0) vs the broadcast eval set (source = src0)",
    tags=("text", "dedup"),
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = T.shingles("text", 5)
    # persisted: the hit counting and the final per-doc report both
    # consume the shingled train split; without this the train corpus
    # is re-shingled (the expensive step) for each consumer
    from pyspark.storagelevel import StorageLevel

    train = (
        docs.where(F.col("source") != EVAL_SOURCE)
        .select("doc_id", sh.alias("ngs"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    eval_ngrams = (
        docs.where(F.col("source") == EVAL_SOURCE)
        .select(F.explode(sh).alias("ng"))
        .distinct()
    )
    hits = (
        train.select("doc_id", F.explode("ngs").alias("ng"))
        .join(F.broadcast(eval_ngrams), "ng")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    n_hit = F.coalesce(F.col("n_contaminated"), F.lit(0))
    return (
        train.select("doc_id", F.size("ngs").alias("n_ngrams"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_ngrams",
            n_hit.alias("n_contaminated"),
            (n_hit.cast("double") / F.col("n_ngrams")).alias(
                "contamination_ratio"
            ),
            (n_hit > 0).cast("int").alias("contaminated"),
        )
    )


@register(
    "text_repetition",
    oracle=r"""
    WITH bg AS (
      SELECT doc_id,
             unnest(list_transform(
                 range(1, len(regexp_split_to_array(lower(trim(text)), '\s+'))),
                 i -> (regexp_split_to_array(lower(trim(text)), '\s+'))[i]
                      || ' ' ||
                      (regexp_split_to_array(lower(trim(text)), '\s+'))[i+1]
             )) AS bigram
      FROM documents
    ),
    cnts AS (SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY doc_id, bigram)
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT)                        AS n_bigrams,
           COUNT(*)                                        AS n_distinct_bigrams,
           CAST(MAX(cnt) AS BIGINT)                        AS top_bigram_n,
           (CAST(SUM(cnt) AS BIGINT) - COUNT(*))::DOUBLE
               / CAST(SUM(cnt) AS BIGINT)                  AS dup_bigram_fraction,
           CAST(MAX(cnt) AS BIGINT)::DOUBLE
               / CAST(SUM(cnt) AS BIGINT)                  AS top_bigram_fraction
    FROM cnts
    GROUP BY doc_id
    """,
    doc="Gopher-style repetition signals: duplicate-bigram fraction and "
    "most-frequent-bigram fraction per document (E39)",
    tags=("text",),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cnts = (
        docs.select("doc_id", F.explode(T.ngrams("text", 2)).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = F.sum("cnt")
    distinct = F.count(F.lit(1))
    return cnts.groupBy("doc_id").agg(
        total.alias("n_bigrams"),
        distinct.alias("n_distinct_bigrams"),
        F.max("cnt").alias("top_bigram_n"),
        ((total - distinct).cast("double") / total).alias("dup_bigram_fraction"),
        (F.max("cnt").cast("double") / total).alias("top_bigram_fraction"),
    )


@register(
    "text_pii_redact",
    oracle=rf"""
    WITH p AS (
      SELECT doc_id,
             'contact u' || doc_id || '@ex.com or call 555-'
               || lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' ' || text AS pii_text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(pii_text, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(pii_text, '{_PHONE_RE}')) AS n_phones,
           md5(regexp_replace(
                 regexp_replace(pii_text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                 '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
    FROM p
    """,
    doc="PII scrubbing: count + redact email/phone-shaped spans "
    "(deterministic synthetic PII prefix; regexes portable across "
    "Java regex and RE2) (E39/E32)",
    tags=("text",),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pii = F.concat(
        F.lit("contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@ex.com or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" "),
        F.col("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(pii, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(pii, F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(pii, F.lit(_PHONE_RE)).alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


@register(
    "text_unigram_lm_score",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      FROM documents
    ),
    vocab AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term),
    tot AS (SELECT COUNT(*) AS n FROM tok),
    vs  AS (SELECT COUNT(*) AS v FROM vocab)
    SELECT tok.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CAST(ROUND(-LN((vocab.cnt + 1.0) / (tot.n + vs.v)), 6)
                         AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
               AS avg_neg_logprob
    FROM tok
    JOIN vocab USING (term)
    CROSS JOIN tot CROSS JOIN vs
    GROUP BY tok.doc_id
    """,
    doc="corpus-trained add-1 unigram LM scoring: per-doc mean negative "
    "log-probability (the KenLM-style fluency/quality proxy). The "
    "vocabulary relation is corpus-small -> broadcast; per-token "
    "logprobs rounded to 6dp then decimal-summed so the mean is "
    "order-independent and engine-exact (E38/E39)",
    tags=("text",),
)
def text_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    # persisted: the vocab build and the scoring join both consume the
    # token stream (one tokenize pass, not two); vocab likewise feeds
    # the totals aggregate and the join (3 corpus scans -> 1)
    tok = docs.select(
        "doc_id", F.explode(T.tokens("text")).alias("term")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    totals = vocab.agg(
        F.sum("cnt").alias("n"), F.count(F.lit(1)).alias("v")
    ).withColumn("j", F.lit(1))
    logp = F.round(
        -F.log((F.col("cnt") + 1.0) / (F.col("n") + F.col("v"))), 6
    ).cast("decimal(30,6)")
    return (
        # vocab grows with the corpus (Heaps' law) — no forced
        # broadcast; tok and vocab share the term hash key.
        tok.join(vocab, "term")
        .withColumn("j", F.lit(1))
        .join(F.broadcast(totals), "j")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.sum(logp).cast("double") / F.count(F.lit(1))).alias(
                "avg_neg_logprob"
            ),
        )
    )


@register(
    "text_span_dedup",
    oracle=r"""
    WITH spans AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
                 range(1, len(regexp_split_to_array(lower(trim(text)), '\s+')) - 7),
                 i -> md5(array_to_string(
                        (regexp_split_to_array(lower(trim(text)), '\s+'))[i:i+8],
                        ' '))
             ))) AS span_h
      FROM documents
    ),
    freq AS (
      SELECT span_h, COUNT(DISTINCT doc_id) AS n_docs
      FROM spans GROUP BY span_h
    )
    SELECT s.doc_id,
           COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared_spans,
           CAST(SUM(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
               / COUNT(*) AS shared_span_fraction
    FROM spans s JOIN freq f USING (span_h)
    GROUP BY s.doc_id
    """,
    doc="cross-document span dedup (exact-substring style, Lee et al. "
    "2022): distinct 9-token spans hashed corpus-wide; per-doc "
    "fraction of spans appearing in >1 document. Span hashes shuffle "
    "once for the frequency count and once back — both linear in "
    "corpus tokens; md5 keys keep the shuffle narrow (16 bytes/span) "
    "at 100 TB (E30/E31/E39)",
    tags=("text", "dedup"),
)
def text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    spans = docs.select(
        "doc_id",
        F.explode(
            F.transform(T.shingles("text", 9), lambda s: F.md5(s))
        ).alias("span_h"),
    )
    freq = spans.groupBy("span_h").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    shared = F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
    return (
        spans.join(freq, "span_h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            shared.alias("n_shared_spans"),
            (shared.cast("double") / F.count(F.lit(1))).alias(
                "shared_span_fraction"
            ),
        )
    )


@register(
    "text_exact_substring_ranges",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
      FROM documents
    ),
    starts AS (
      SELECT doc_id, tk, unnest(range(1, len(tk) - 7)) AS i
      FROM t
    ),
    spans AS (
      SELECT doc_id, CAST(i AS BIGINT) AS start,
             array_to_string(tk[i:i+8], ' ') AS s
      FROM starts
    ),
    dup AS (
      SELECT s FROM spans GROUP BY s HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    ds AS (
      SELECT sp.doc_id, sp.start FROM spans sp JOIN dup USING (s)
    ),
    m AS (
      SELECT doc_id, start,
             MAX(start + 8) OVER (PARTITION BY doc_id ORDER BY start
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      FROM ds
    ),
    seg AS (
      SELECT doc_id, start,
             SUM(CASE WHEN pme IS NULL OR start > pme + 1 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY start
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      FROM m
    )
    SELECT doc_id,
           MIN(start) AS range_start,
           MAX(start) + 8 AS range_end,
           MAX(start) + 8 - MIN(start) + 1 AS n_tokens
    FROM seg
    GROUP BY doc_id, seg_id
    ORDER BY doc_id, range_start
    """,
    doc="suffix-array-style exact-substring dedup (Lee et al. 2022), "
    "upgrading text_span_dedup's per-doc hash-overlap FRACTION to the "
    "actual deliverable of the suffix-array method: the MAXIMAL token "
    "ranges of each document whose >=9-token content appears verbatim "
    "in another document — i.e. the exact ranges a dedup pass would "
    "cut. Three differences from the span-hash plan: (1) positions "
    "are kept, not array_distinct'ed; (2) duplication is decided on "
    "the span CONTENT itself (the group-by key is the 9-token string, "
    "so equality is exact — no hash-collision false positives); (3) "
    "overlapping/adjacent duplicated spans merge into maximal ranges "
    "via a per-doc running-max-end interval merge (two Window ops on "
    "one doc_id sort). Scale shape: one groupBy(span) with map-side "
    "partials, one span-keyed semi join back, one doc_id window "
    "shuffle — all linear in corpus tokens, no all-pairs anything; "
    "the span key is <=~100 bytes so the shuffle is bounded like the "
    "md5 variant while staying collision-exact (E30,E49)",
    tags=("text", "dedup"),
)
def text_exact_substring_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    L = 9
    # sequence(1, n) DESCENDS for n < 1 — guard short docs out first.
    # Persist the span relation: BOTH consumers below (the duplicated-
    # content groupBy and the semi-join probe) read it, and without
    # persistence the lineage duplicates — the corpus is tokenized and
    # span-enumerated TWICE (measured 12.2 -> 6.5 s at sf0.1).
    from pyspark import StorageLevel

    # The token array is bound once per document (`let`): inline, the
    # per-start lambda would re-tokenize the document at every start.
    spans = (
        docs.where(F.size(T.tokens("text")) >= L)
        .select(
            "doc_id",
            F.explode(
                let(
                    T.tokens("text"),
                    lambda t: F.transform(
                        F.sequence(F.lit(1), F.size(t) - (L - 1)),
                        lambda i: F.struct(
                            i.cast("long").alias("start"),
                            F.concat_ws(" ", F.slice(t, i, L)).alias("s"),
                        ),
                    ),
                )
            ).alias("sp"),
        )
        .select("doc_id", "sp.start", "sp.s")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dup = (
        spans.groupBy("s")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("s")
    )
    ds = spans.join(dup, "s", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("start")
    pme = F.max(F.col("start") + F.lit(L - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    is_new = F.when(
        F.col("pme").isNull() | (F.col("start") > F.col("pme") + 1), 1
    ).otherwise(0)
    seg = ds.withColumn("pme", pme).withColumn("seg_id", F.sum(is_new).over(w))
    return (
        seg.groupBy("doc_id", "seg_id")
        .agg(
            F.min("start").alias("range_start"),
            (F.max("start") + F.lit(L - 1)).alias("range_end"),
            (F.max("start") + F.lit(L - 1) - F.min("start") + 1).alias(
                "n_tokens"
            ),
        )
        .select("doc_id", "range_start", "range_end", "n_tokens")
        .orderBy("doc_id", "range_start")
    )


@register(
    "pipeline_incremental_dedup",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id, lang,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      FROM documents
    ),
    existing AS (SELECT * FROM fp WHERE doc_id < 250),
    incoming AS (SELECT * FROM fp WHERE doc_id >= 250),
    kept AS (
      SELECT i.* FROM incoming i
      WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.fp = i.fp)
    ),
    dedup AS (
      SELECT doc_id, lang, fp,
             ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM kept
    )
    SELECT lang,
           COUNT(*) AS n_arriving,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted
    FROM dedup GROUP BY lang ORDER BY lang
    """,
    doc="incremental-ingestion dedup (E30 composed): a new document "
    "batch is admitted only if its fingerprint is unseen in the "
    "EXISTING corpus (left_anti probe — at scale the corpus side is a "
    "bucketed fingerprint index, so the probe is exchange-free) and "
    "then deduped within the batch (keep min id). The append-only "
    "corpus-growth pattern: history is never rescanned in full, only "
    "its fingerprint index",
    tags=("dedup", "text", "pipeline"),
)
def pipeline_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id", "lang", T.fingerprint_exact("text").alias("fp")
    )
    existing = fp.where(F.col("doc_id") < 250)
    incoming = fp.where(F.col("doc_id") >= 250)
    kept = incoming.join(existing.select("fp"), "fp", "left_anti")
    rn = F.row_number().over(W.partitionBy("fp").orderBy("doc_id"))
    dedup = kept.withColumn("rn", rn)
    return (
        dedup.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_arriving"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_admitted"),
        )
        .orderBy("lang")
    )


@register(
    "pipeline_pack_sequences",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    ),
    binned AS (
      SELECT doc_id, n_tokens,
             CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin FROM c
    )
    SELECT bin,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM binned GROUP BY bin ORDER BY bin
    """,
    doc="sequence packing for training batches (EXT, LLM pipeline): "
    "documents stream in doc_id order into 2048-token bins — bin id = "
    "floor(preceding-cumulative-tokens / budget) from a DISTRIBUTED "
    "exact running token sum (operators/stats.py:global_running_sums, "
    "two-phase range-partitioned prefix sum — never a single-task "
    "Window.orderBy), then per-bin stats. Every stage shuffles once "
    "and stays parallel at 100 TB; the only serial object is the "
    "32-row per-partition totals relation",
    tags=("text", "pipeline"),
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import global_running_sums

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.size(T.tokens("text")).alias("n_tokens")
    )
    c = global_running_sums(t, ["doc_id"], {"cum": "n_tokens"})
    binned = c.withColumn(
        "bin", F.floor((F.col("cum") - F.col("n_tokens")) / 2048)
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("bin")
    )


@register(
    "pipeline_token_budget",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, lang,
             len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum
      FROM t
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sel_tokens
    FROM c WHERE cum <= 15000
    GROUP BY lang ORDER BY lang
    """,
    doc="token-budget corpus selection (EXT, LLM pipeline): rank "
    "documents by a preference score (here: token count, descending — "
    "swap in any quality/LM score) and admit greedily until the "
    "cumulative token budget (15k) is spent; the running sum over the "
    "ranked order is a DISTRIBUTED two-phase range-partitioned prefix "
    "sum (operators/stats.py:global_running_sums — never a single-"
    "task Window.orderBy), then per-lang stats of the admitted set. "
    "The 'train on the best N tokens' primitive; every stage stays "
    "parallel at 100 TB",
    tags=("text", "pipeline", "sampling"),
)
def pipeline_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import global_running_sums

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "lang", F.size(T.tokens("text")).alias("n_tokens")
    )
    # distributed exact running sum over the (n_tokens desc, doc_id)
    # total order — two-phase range-partitioned prefix sum, never a
    # single-task Window.orderBy (operators/stats.py)
    c = global_running_sums(
        t, [F.desc("n_tokens"), F.asc("doc_id")], {"cum": "n_tokens"}
    )
    return (
        c.where(F.col("cum") <= 15000)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sel_tokens"),
        )
        .orderBy("lang")
    )


@register(
    "dedup_repeated_chunks",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
             CAST(ceil(len(regexp_split_to_array(lower(trim(text)), '\s+'))
                       / 20.0) AS BIGINT) AS n_chunks
      FROM documents
    ),
    ch AS (
      SELECT doc_id, idx,
             array_to_string(toks[idx*20+1 : idx*20+20], ' ') AS chunk
      FROM (SELECT doc_id, toks,
                   UNNEST(range(0, n_chunks)) AS idx
            FROM t)
    ),
    kept AS (
      SELECT doc_id, idx, chunk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(chunk)
                    ORDER BY doc_id, idx) AS rn
        FROM ch
      ) WHERE rn = 1
    ),
    re AS (
      SELECT doc_id, COUNT(*) AS n_kept_chunks,
             string_agg(chunk, ' ' ORDER BY idx) AS new_text
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_chunks,
           COALESCE(re.n_kept_chunks, 0) AS n_kept_chunks,
           COALESCE(re.new_text, '') AS new_text
    FROM t LEFT JOIN re USING (doc_id)
    ORDER BY t.doc_id
    """,
    doc="repeated-passage REMOVAL with document rewriting (RefinedWeb/"
    "MassiveText): 20-token chunks, corpus-wide first occurrence wins "
    "(ordered by doc id then position), every later duplicate chunk is "
    "cut and the document reassembled from its surviving chunks in "
    "order. Unlike text_span_dedup this rewrites the text — the "
    "rewritten strings themselves are hash-compared. Two linear keyed "
    "shuffles (chunk-hash window, doc-id reassembly) (E30,E31,E49)",
    tags=("text", "dedup"),
)
def dedup_repeated_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import remove_repeated_chunks

    docs = load_table(spark, sf_dir, "documents")
    return remove_repeated_chunks(docs, "doc_id", "text", chunk_tokens=20)


@register(
    "text_chunk_sliding",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0
    ),
    s AS (SELECT doc_id, toks, len(toks) AS n FROM t),
    c AS (
      SELECT doc_id, toks, unnest(range(0, n, 8)) AS start FROM s
    )
    SELECT doc_id,
           CAST(start // 8 AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS start_tok,
           CAST(len(list_slice(toks, start + 1, start + 16)) AS BIGINT)
             AS n_chunk_tokens,
           array_to_string(list_slice(toks, start + 1, start + 16), ' ')
             AS chunk_text
    FROM c ORDER BY doc_id, chunk_idx
    """,
    doc="sliding-window document chunking (EXT, LLM/RAG pipeline): "
    "each document becomes overlapping 16-token chunks at stride 8 "
    "(sequence -> posexplode -> slice, all codegen'd array ops, no "
    "Python). The pretraining/RAG chunker primitive: row-local "
    "explode, embarrassingly parallel, zero shuffle before the sink "
    "(the ORDER BY is presentation only). At 100 TB fan-out is "
    "bounded by stride — output rows ~= 2x token count / chunk size",
    tags=("text", "pipeline"),
)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    C, S = 16, 8
    docs = load_table(spark, sf_dir, "documents")
    t = (
        docs.where(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", T.tokens("text").alias("toks"))
        .withColumn("n", F.size("toks"))
    )
    c = t.select(
        "doc_id",
        "toks",
        F.posexplode(F.sequence(F.lit(0), F.col("n") - 1, F.lit(S))).alias(
            "chunk_idx", "start"
        ),
    )
    chunk = F.slice(F.col("toks"), F.col("start") + 1, F.lit(C))
    return c.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start").cast("long").alias("start_tok"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    ).orderBy("doc_id", "chunk_idx")


@register(
    "text_quality_gate",
    oracle=rf"""
    WITH b AS (
      SELECT source,
             len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens,
             length(text) AS n_chars,
             len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                 t -> list_contains([{_SW_GATE}], t))) AS n_sw,
             len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct
      FROM documents
    ),
    f AS (
      SELECT source, n_tokens,
             (n_tokens < 30) AS f_short,
             (n_sw::DOUBLE / n_tokens < 0.04) AS f_sw,
             ((n_chars - n_tokens + 1)::DOUBLE / n_tokens < 3.0
              OR (n_chars - n_tokens + 1)::DOUBLE / n_tokens > 4.8) AS f_tok,
             (n_punct::DOUBLE / n_chars > 0.03) AS f_punct
      FROM b
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN NOT (f_short OR f_sw OR f_tok OR f_punct)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
           CAST(SUM(CASE WHEN f_short THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_short,
           CAST(SUM(CASE WHEN f_sw THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stopword,
           CAST(SUM(CASE WHEN f_tok THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_token_len,
           CAST(SUM(CASE WHEN f_punct THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_punct,
           CAST(SUM(CASE WHEN NOT (f_short OR f_sw OR f_tok OR f_punct)
                    THEN n_tokens ELSE 0 END) AS BIGINT) AS admitted_tokens
    FROM f GROUP BY source ORDER BY source
    """,
    doc="composite Gopher/C4-style quality GATE (EXT, LLM pipeline): "
    "four document filters (min length, stopword floor, mean-token-"
    "length band, punctuation cap) evaluated in one codegen'd pass, "
    "aggregated per source into admit counts + per-rule reject "
    "counts + admitted token mass. Unlike text_quality (scores only) "
    "this is the admit/reject decision with reasons — what a corpus "
    "curation run reports. One map pass + one tiny keyed agg; the "
    "100 TB plan is scan-bound, shuffle carries |sources| rows",
    tags=("text", "pipeline"),
)
def text_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    q = T.quality_features(docs.select("source", "text"), "text")
    f_short = F.col("n_tokens") < 30
    f_sw = F.col("stopword_ratio") < 0.04
    f_tok = (F.col("mean_token_len") < 3.0) | (F.col("mean_token_len") > 4.8)
    f_punct = F.col("punct_ratio") > 0.03
    admit = ~(f_short | f_sw | f_tok | f_punct)

    def cnt(c):
        return F.sum(F.when(c, 1).otherwise(0)).cast("long")

    return (
        q.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            cnt(admit).alias("n_admitted"),
            cnt(f_short).alias("n_fail_short"),
            cnt(f_sw).alias("n_fail_stopword"),
            cnt(f_tok).alias("n_fail_token_len"),
            cnt(f_punct).alias("n_fail_punct"),
            F.sum(F.when(admit, F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("admitted_tokens"),
        )
        .orderBy("source")
    )


@register(
    "pipeline_dataset_card",
    oracle=r"""
    WITH t AS (
      SELECT source, lang,
             len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens,
             length(text) AS n_chars
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT lang) AS n_langs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           ROUND(QUANTILE_CONT(n_tokens, 0.5), 6) AS median_tokens,
           ROUND(QUANTILE_CONT(n_tokens, 0.95), 6) AS p95_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
    FROM t GROUP BY source ORDER BY source
    """,
    doc="dataset-card statistics (EXT, LLM pipeline): the per-source "
    "summary every released corpus ships — doc/lang counts, token and "
    "char mass, token-length min/median/p95/max — in ONE pass over "
    "documents (single keyed agg, map-side partials; percentiles are "
    "the only non-decomposable piece and swap to KLL sketches at "
    "100 TB, see agg_kll_price_quantiles). Integer sums cast BIGINT, "
    "interpolated percentiles rounded to 6dp for cross-engine hashes",
    tags=("text", "pipeline", "agg"),
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        "lang",
        F.size(T.tokens("text")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )
    return (
        t.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("n_tokens").cast("long").alias("min_tokens"),
            F.round(F.percentile("n_tokens", F.lit(0.5)), 6).alias(
                "median_tokens"
            ),
            F.round(F.percentile("n_tokens", F.lit(0.95)), 6).alias(
                "p95_tokens"
            ),
            F.max("n_tokens").cast("long").alias("max_tokens"),
        )
        .orderBy("source")
    )


@register(
    "pipeline_rag_index",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0
    ),
    s AS (SELECT doc_id, toks, len(toks) AS n FROM t),
    c AS (SELECT doc_id, unnest(range(0, n, 8)) AS start, toks FROM s),
    ch AS (
      SELECT doc_id * 1000 + start // 8 AS ck,
             array_to_string(list_slice(toks, start + 1, start + 16), ' ')
               AS ctext
      FROM c
    ),
    hv AS (SELECT ck, md5(ctext) AS h FROM ch),
    vec AS (
      SELECT ck,
             list_transform(range(0, 8),
               i -> CAST(('0x' || substr(h, CAST(i * 4 + 1 AS INT), 4))
                          AS BIGINT) / 32767.5 - 1) AS v
      FROM hv
    ),
    un AS (
      SELECT ck, v,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
      FROM vec
    ),
    cells AS (
      SELECT ck, u,
             (CASE WHEN v[1] > 0 THEN 4 ELSE 0 END
              + CASE WHEN v[2] > 0 THEN 2 ELSE 0 END
              + CASE WHEN v[3] > 0 THEN 1 ELSE 0 END) AS cell
      FROM un
    ),
    q AS (
      SELECT ck AS qk, u AS qu, cell FROM cells
      WHERE ck % 1000 = 0 AND ck < 3000
    ),
    scored AS (
      SELECT q.qk, c2.ck AS nk, list_dot_product(q.qu, c2.u) AS cosine
      FROM q JOIN cells c2 ON q.cell = c2.cell AND c2.ck <> q.qk
    )
    SELECT qk AS q_chunk, nk AS neighbor_chunk, cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qk
                  ORDER BY cosine DESC, nk) AS rank
      FROM scored
    ) WHERE rank <= 3
    ORDER BY q_chunk, rank
    """,
    doc="END-TO-END RAG indexing capstone (EXT): chunk documents "
    "(16-token stride-8), embed each chunk (deterministic md5-derived "
    "8-dim vector standing in for a model embedding — the Spark-side "
    "plumbing is what's under test), unit-normalize, bucket by "
    "sign-hyperplane cell (the LSH/IVF blocking that replaces the "
    "O(n^2) cross join), probe 3 query chunks cell-locally, exact "
    "cosine top-3 per query. ONE lazy plan: Catalyst fuses chunk -> "
    "embed -> index -> probe; the only shuffle is the cell join. At "
    "100 TB the embed step becomes a Pandas-UDF model call and the "
    "cell key becomes learned IVF (ann_topk_learned_ivf) — identical "
    "plan shape (E66 x E40 composed)",
    tags=("text", "pipeline", "similarity"),
)
def pipeline_rag_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from ..functions.vectors import vec_dot, with_unit_vector

    C, S = 16, 8
    docs = load_table(spark, sf_dir, "documents")
    t = (
        docs.where(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", T.tokens("text").alias("toks"))
        .withColumn("n", F.size("toks"))
    )
    ch = t.select(
        "doc_id",
        "toks",
        F.posexplode(F.sequence(F.lit(0), F.col("n") - 1, F.lit(S))).alias(
            "chunk_idx", "start"
        ),
    ).select(
        (F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("ck"),
        F.array_join(
            F.slice(F.col("toks"), F.col("start") + 1, F.lit(C)), " "
        ).alias("ctext"),
    )
    # md5 bound once per chunk: the single-use `ctext` projection is
    # inlined into the lambda, which would re-hash it per component
    vec = ch.select(
        "ck",
        let(
            F.md5("ctext"),
            lambda h: F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda i: F.conv(h.substr(i * 4 + 1, F.lit(4)), 16, 10).cast(
                    "bigint"
                )
                / 32767.5
                - 1,
            ),
        ).alias("v"),
    )
    un = with_unit_vector(vec, "v", "u")
    # the cell relation feeds BOTH probe sides (tiny query filter and
    # the corpus side); persisting computes the chunk->hash->normalize
    # chain once instead of once per consumer (the minhash/triangle
    # precedent — ReuseExchange cannot help, there is no exchange here)
    from pyspark.storagelevel import StorageLevel

    cells = un.select(
        "ck",
        "u",
        (
            F.when(F.col("v")[0] > 0, 4).otherwise(0)
            + F.when(F.col("v")[1] > 0, 2).otherwise(0)
            + F.when(F.col("v")[2] > 0, 1).otherwise(0)
        ).alias("cell"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    q = cells.where((F.col("ck") % 1000 == 0) & (F.col("ck") < 3000)).select(
        F.col("ck").alias("qk"), F.col("u").alias("qu"), "cell"
    )
    scored = (
        cells.join(F.broadcast(q), "cell")
        .where(F.col("ck") != F.col("qk"))
        .select("qk", F.col("ck").alias("nk"), vec_dot("qu", "u").alias("cosine"))
    )
    w = W.partitionBy("qk").orderBy(F.desc("cosine"), F.col("nk"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            F.col("qk").alias("q_chunk"),
            F.col("nk").alias("neighbor_chunk"),
            "cosine",
            "rank",
        )
        .orderBy("q_chunk", "rank")
    )


@register(
    "text_bigram_lm_score",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      FROM documents
    ),
    uni AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term),
    vs AS (SELECT COUNT(*) AS v FROM uni),
    tl AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      FROM documents
    ),
    bg AS (
      SELECT doc_id, t[i] AS prev, t[i + 1] AS nxt
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
            FROM tl WHERE len(t) >= 2)
    ),
    bc AS (SELECT prev, nxt, COUNT(*) AS cb FROM bg GROUP BY prev, nxt)
    SELECT bg.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(CAST(ROUND(-LN((bc.cb + 1.0) / (uni.cnt + vs.v)), 6)
                         AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
               AS avg_neg_logprob
    FROM bg
    JOIN bc ON bg.prev = bc.prev AND bg.nxt = bc.nxt
    JOIN uni ON bg.prev = uni.term
    CROSS JOIN vs
    GROUP BY bg.doc_id
    """,
    doc="corpus-trained add-1 BIGRAM LM scoring: per-doc mean negative "
    "conditional log-probability -ln P(w|prev) — one Markov order up "
    "from text_unigram_lm_score, the stronger KenLM-style fluency "
    "proxy (word-salad scores high even when its unigrams are "
    "common). Bigram and unigram count relations are corpus-small -> "
    "broadcast onto the bigram stream; per-position logprobs rounded "
    "6dp then decimal-summed, order-independent and engine-exact "
    "(E38/E39)",
    tags=("text",),
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    # ONE tokenize pass: the persisted token-array relation feeds both
    # the unigram stream and the bigram enumeration (previously each
    # re-tokenized the corpus — 4 source scans); uni and bg are each
    # consumed twice downstream, so they persist too.
    t0 = docs.select("doc_id", T.tokens("text").alias("toks")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    tok = t0.select("doc_id", F.explode("toks").alias("term"))
    uni = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    vs = uni.agg(F.count(F.lit(1)).alias("v")).withColumn("j", F.lit(1))
    t = t0.withColumn("n", F.size("toks")).where(F.col("n") >= 2)
    bg = t.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n") - 1),
                lambda i: F.struct(
                    F.element_at("toks", i).alias("prev"),
                    F.element_at("toks", i + 1).alias("nxt"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", "b.prev", "b.nxt").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    bc = bg.groupBy("prev", "nxt").agg(F.count(F.lit(1)).alias("cb"))
    logp = F.round(
        -F.log((F.col("cb") + 1.0) / (F.col("cnt") + F.col("v"))), 6
    ).cast("decimal(30,6)")
    return (
        # bigram/unigram count relations grow with the corpus — no
        # forced broadcast (AQE decides); only the 1-row vs is hinted.
        bg.join(bc, ["prev", "nxt"])
        .join(uni.withColumnRenamed("term", "prev"), "prev")
        .withColumn("j", F.lit(1))
        .join(F.broadcast(vs), "j")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (F.sum(logp).cast("double") / F.count(F.lit(1))).alias(
                "avg_neg_logprob"
            ),
        )
    )


#: Per-source document cap for ``pipeline_source_caps``.
CAP_PER_SOURCE = 10


@register(
    "pipeline_source_caps",
    oracle="""
    SELECT doc_id, source, n_chars
    FROM (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents
    ) t
    WHERE rk <= 10
    ORDER BY source, doc_id
    """,
    doc="per-source document caps (the RefinedWeb/C4 host-level cap): "
    "keep at most CAP_PER_SOURCE docs per source, preferring longer "
    "documents with a doc_id tiebreak, so no single domain dominates "
    "the training mixture. The oracle states the plain rank; the Spark "
    "plan is the SKEW-AWARE two-path version a 100 TB corpus needs: a "
    "tiny per-source count relation (map-side combined) broadcast-"
    "splits the scan - sources already under the cap keep every row "
    "WITHOUT sorting (at web scale that is almost all of them), and "
    "only the oversized sources pay the partition-sort for row_number. "
    "A mega-domain still lands in one window task; the count relation "
    "is exactly the `agg_key_skew_profile` diagnostic that tells you "
    "to pre-slice it (EXT pipeline/mixture)",
    tags=("pipeline", "dedup"),
)
def pipeline_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import cap_per_key

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    kept = cap_per_key(
        docs,
        ["source"],
        [F.col("n_chars").desc(), F.col("doc_id")],
        CAP_PER_SOURCE,
    )
    return kept.select("doc_id", "source", "n_chars").orderBy(
        "source", "doc_id"
    )


def _semantic_unit_cte() -> str:
    """The semantic screen's normalized-embedding CTE fragment
    (plans/dedup_sim.py:_UNIT_CTE) — names (raw, e) are disjoint from
    the 5-gram screen's (grams, eval_ng, train, hits)."""
    from .dedup_sim import _UNIT_CTE

    return _UNIT_CTE


@register(
    "pipeline_contamination_report",
    oracle=rf"""
    WITH grams AS (
      SELECT doc_id, source,
             list_distinct(list_transform(
                 range(1, len(regexp_split_to_array(lower(trim(text)), '\s+')) - 3),
                 i -> array_to_string(
                        (regexp_split_to_array(lower(trim(text)), '\s+'))[i:i+4], ' ')
             )) AS ngs
      FROM documents
    ),
    eval_ng AS (
      SELECT DISTINCT unnest(ngs) AS ng FROM grams WHERE source = '{EVAL_SOURCE}'
    ),
    train AS (SELECT doc_id, ngs FROM grams WHERE source <> '{EVAL_SOURCE}'),
    hits AS (
      SELECT tr.doc_id, COUNT(*) AS n_contaminated
      FROM (SELECT doc_id, unnest(ngs) AS ng FROM train) tr
      JOIN eval_ng USING (ng)
      GROUP BY tr.doc_id
    ),
    ngrep AS (
      SELECT t.doc_id,
             CAST(COALESCE(h.n_contaminated, 0) > 0 AS INT)
               AS ngram_contaminated,
             ROUND(COALESCE(h.n_contaminated, 0)::DOUBLE / len(t.ngs), 6)
               AS contamination_ratio_r6
      FROM train t LEFT JOIN hits h USING (doc_id)
    ),
    {{unit}},
    q AS (SELECT vec_id AS r_id, u AS ru FROM e WHERE vec_id < 25),
    c AS (SELECT vec_id, u FROM e WHERE vec_id >= 25),
    scored AS (
      SELECT c.vec_id, list_dot_product(c.u, q.ru) AS cosine
      FROM c CROSS JOIN q
    ),
    sem AS (
      SELECT vec_id,
             ROUND(MAX(cosine), 6) AS max_cosine_r6,
             CAST((COUNT(*) FILTER (WHERE cosine >= 0.4)) > 0 AS INT)
               AS semantic_contaminated
      FROM scored GROUP BY vec_id
    )
    SELECT COALESCE(n.doc_id, s.vec_id) AS doc_id,
           n.ngram_contaminated,
           n.contamination_ratio_r6,
           s.semantic_contaminated,
           s.max_cosine_r6,
           CASE WHEN COALESCE(n.ngram_contaminated, 0) = 1
                 AND COALESCE(s.semantic_contaminated, 0) = 1 THEN 'both'
                WHEN COALESCE(n.ngram_contaminated, 0) = 1 THEN 'ngram'
                WHEN COALESCE(s.semantic_contaminated, 0) = 1 THEN 'semantic'
                ELSE 'clean' END AS verdict
    FROM ngrep n FULL OUTER JOIN sem s ON n.doc_id = s.vec_id
    ORDER BY doc_id
    """.format(unit=_semantic_unit_cte()),
    doc="per-document contamination REPORT (E48 capstone): the audit "
    "artifact a decontamination pipeline actually ships — the 5-gram "
    "lexical screen (text_decontaminate: distinct 5-gram overlap vs "
    "the broadcast src0 eval split) and the embedding-space semantic "
    "screen (pipeline_semantic_decontaminate: max cosine vs the "
    "broadcast vec_id<25 eval set) joined FULL OUTER per document, "
    "with a four-way verdict (both / ngram / semantic / clean). A doc "
    "outside one screen's corpus definition keeps NULLs for that "
    "screen's columns (the 'which screen even applied' dimension of "
    "the audit), never drops; coalesced flags drive the verdict. "
    "Scale shape: both screens are one narrow corpus scan each with "
    "broadcast scale-independent eval sides and map-side partials, "
    "and the final join is per-doc-keyed — no new shuffle class "
    "beyond its two attested components (EXT, LLM pipeline)",
    tags=("pipeline", "text", "similarity", "dedup"),
)
def pipeline_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup_sim import pipeline_semantic_decontaminate as _sem_plan

    ng = text_decontaminate(spark, sf_dir).select(
        "doc_id",
        F.col("contaminated").alias("ngram_contaminated"),
        F.round("contamination_ratio", 6).alias("contamination_ratio_r6"),
    )
    sem = _sem_plan(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"),
        F.col("contaminated").alias("semantic_contaminated"),
        F.col("max_cosine").alias("max_cosine_r6"),
    )
    j = ng.join(sem, "doc_id", "full")
    ng_flag = F.coalesce(F.col("ngram_contaminated"), F.lit(0))
    sem_flag = F.coalesce(F.col("semantic_contaminated"), F.lit(0))
    verdict = (
        F.when((ng_flag == 1) & (sem_flag == 1), F.lit("both"))
        .when(ng_flag == 1, F.lit("ngram"))
        .when(sem_flag == 1, F.lit("semantic"))
        .otherwise(F.lit("clean"))
    )
    return j.select(
        "doc_id",
        "ngram_contaminated",
        "contamination_ratio_r6",
        "semantic_contaminated",
        "max_cosine_r6",
        verdict.alias("verdict"),
    ).orderBy("doc_id")
