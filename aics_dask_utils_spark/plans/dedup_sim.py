"""Dedup + similarity-search plans (E19, E30–E31, E40).

Oracles replicate the md5-based deterministic pipelines in DuckDB SQL —
including the full MinHash→band→bucket→verify chain — so the driver
hash-checks the whole LSH pipeline, not just a smoke run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import similarity as S
from ..operators import text as _T
from ..sources import load_table
from . import register

_TOKS = r"regexp_split_to_array(lower(trim(text)), '\s+')"


def _shingle_ctes(src: str = "documents") -> str:
    """CTE chain toks→sh→ex→sizes→inter→jac over any doc-shaped source."""
    return rf"""
    toks AS (SELECT doc_id, {_TOKS} AS t FROM {src}),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
                    generate_series(1, len(t)-2),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                  ELSE [] END AS s
      FROM toks
    ),
    ex AS (SELECT doc_id, unnest(s) AS sg FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sg FROM ex GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
      FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    jac AS (
      SELECT d1, d2, inter, s1.n_sg AS n1, s2.n_sg AS n2,
             inter::DOUBLE / (s1.n_sg + s2.n_sg - inter) AS jaccard
      FROM inter JOIN sizes s1 ON inter.d1 = s1.doc_id
                 JOIN sizes s2 ON inter.d2 = s2.doc_id
    )
"""


_SHINGLES_CTE = _shingle_ctes()


@register(
    "dedup_exact",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      FROM documents
    )
    SELECT doc_id, fp,
           MIN(doc_id) OVER (PARTITION BY fp) AS keeper_id,
           COUNT(*) OVER (PARTITION BY fp) AS group_size,
           CAST(ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) > 1 AS INT) AS is_dup
    FROM fp
    """,
    doc="exact dedup by normalized-text fingerprint; keeper = min id (E30)",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs)


@register(
    "dedup_keep_first_per_source",
    oracle="""
    SELECT doc_id, source, lang
    FROM (
      SELECT doc_id, source, lang,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ) t WHERE rn = 1
    """,
    doc="keyed dedup: first doc per source under doc_id order (E30)",
    tags=("dedup",),
)
def dedup_keep_first_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.keyed_keep_first(
        docs.select("doc_id", "source", "lang"), ["source"], [F.col("doc_id")]
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_CTE}
    SELECT d1, d2, inter, n1, n2, jaccard
    FROM jac WHERE jaccard >= 0.8
    """,
    doc="exact 3-gram Jaccard near-dup pairs (E31); the verification "
    "primitive — quadratic per shingle bucket, LSH is the scale path",
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, threshold=0.8)


def _minhash_pair_ctes(
    src: str = "documents",
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.8,
) -> str:
    """CTE chain ending in ``pairs(d1, d2, jaccard)``: the full
    shingle→minhash→band→bucket→verify pipeline over ``src``."""
    from ..operators.dedup import MINHASH_PRIME

    r = num_hashes // bands
    mh_cols = ",\n             ".join(
        f"MIN((h1 + {i} * h2) % {MINHASH_PRIME}) AS mh_{i}"
        for i in range(num_hashes)
    )
    band_selects = []
    for b in range(bands):
        slots = " || '|' || ".join(f"CAST(mh_{b * r + j} AS VARCHAR)" for j in range(r))
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5({slots}) AS bh FROM mh"
        )
    bands_sql = "\n      UNION ALL ".join(band_selects)
    return f"""{_shingle_ctes(src)},
    hashed AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(sg), 1, 12)) AS BIGINT)  AS h1,
             CAST(('0x' || substr(md5(sg), 13, 12)) AS BIGINT) AS h2
      FROM ex
    ),
    mh AS (
      SELECT doc_id,
             {mh_cols}
      FROM hashed GROUP BY doc_id
    ),
    bands AS (
      {bands_sql}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
                   AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT c.d1, c.d2, j.jaccard
      FROM cand c JOIN jac j ON c.d1 = j.d1 AND c.d2 = j.d2
      WHERE j.jaccard >= {threshold}
    )"""


def _minhash_oracle(num_hashes: int = 12, bands: int = 4) -> str:
    return f"""
    WITH {_minhash_pair_ctes(num_hashes=num_hashes, bands=bands)}
    SELECT d1, d2, jaccard FROM pairs
    """


@register(
    "dedup_minhash_lsh",
    oracle=_minhash_oracle(),
    doc="MinHash(12 md5 hashes) + LSH banding (4 bands × 3 rows) candidate "
    "pairs, verified with exact Jaccard >= 0.8 (E31/E19); shuffle is "
    "linear in corpus size — the 100 TB dedup path",
    tags=("dedup", "similarity"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs, num_hashes=12, bands=4, threshold=0.8).select(
        "d1", "d2", "jaccard"
    )


def _simhash_oracle(bits: int = 16) -> str:
    bit_sums = ",\n             ".join(
        f"SUM(CASE WHEN (h // {1 << i}) % 2 = 1 THEN 1 ELSE -1 END) AS s_{i}"
        for i in range(bits)
    )
    sim = " + ".join(
        f"CASE WHEN s_{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(bits)
    )
    return rf"""
    WITH ex AS (
      SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok
      FROM documents
    ),
    hashed AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h
      FROM ex
    ),
    bit_sums AS (
      SELECT doc_id,
             {bit_sums}
      FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, {sim} AS simhash FROM bit_sums
    """


@register(
    "dedup_simhash",
    oracle=_simhash_oracle(),
    doc="16-bit deterministic SimHash signatures from md5 token hashes "
    "(E31); identical signatures = Hamming-0 near-dup bucket",
    tags=("dedup",),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash(docs, bits=16)


def _reach_ctes(a: str = "d1", b: str = "d2") -> str:
    """``und(a, b)``, the symmetric closure of ``pairs(a, b)``, and
    ``reach(a, b)``, its transitive closure: the recursive-CTE oracle of
    connected components (component = ``LEAST(a, MIN(b))`` per ``a``)."""
    return f"""und AS (
      SELECT {a} AS a, {b} AS b FROM pairs
      UNION
      SELECT {b} AS a, {a} AS b FROM pairs
    ),
    reach AS (
      SELECT a, b FROM und
      UNION
      SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
    )"""


# Unit-normalized embedding CTE — mirrors with_unit_vector(): norm is a
# fold over the double-cast array, each element divided by it.
_UNIT_CTE = """
    raw AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    e AS (
      SELECT vec_id, label,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
      FROM raw
    )
"""


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH {_UNIT_CTE}
    SELECT a.label AS blk, a.vec_id AS v1, b.vec_id AS v2,
           list_dot_product(a.u, b.u) AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.u, b.u) >= 0.4
    """,
    doc="embedding-cosine near-dup pairs, label-blocked (IVF-cell pruning "
    "instead of O(n²) cross join) (E31/E19)",
    tags=("dedup", "similarity"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return D.embedding_near_dup_pairs(emb, threshold=0.4)


@register(
    "ann_topk_brute",
    oracle=f"""
    WITH {_UNIT_CTE},
    q AS (SELECT vec_id AS q_id, u AS qu FROM e WHERE vec_id < 5),
    scored AS (
      SELECT q.q_id, c.vec_id AS neighbor_id,
             list_dot_product(q.qu, c.u) AS cosine
      FROM e c CROSS JOIN q WHERE c.vec_id <> q.q_id
    )
    SELECT q_id, neighbor_id, cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) t WHERE rank <= 10
    """,
    doc="exact brute-force cosine top-10 for 5 query vectors (E40); "
    "queries broadcast, corpus scanned once",
    tags=("similarity",),
)
def ann_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return S.brute_force_topk(emb, queries, k=10)


@register(
    "ann_topk_ivf",
    oracle=f"""
    WITH {_UNIT_CTE},
    q AS (SELECT vec_id AS q_id, label AS cell, u AS qu FROM e WHERE vec_id < 5),
    scored AS (
      SELECT q.q_id, q.cell, c.vec_id AS neighbor_id,
             list_dot_product(q.qu, c.u) AS cosine
      FROM e c JOIN q ON c.label = q.cell WHERE c.vec_id <> q.q_id
    )
    SELECT q_id, cell, neighbor_id, cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) t WHERE rank <= 10
    """,
    doc="IVF-style top-10: probe only the query's coarse cell — at scale "
    "the cell predicate is partition pruning on the corpus (E40/E19)",
    tags=("similarity",),
)
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return S.ivf_topk(emb, queries, k=10)


@register(
    "dedup_minhash_components",
    oracle=f"""
    WITH RECURSIVE {_minhash_pair_ctes()},
    {_reach_ctes()}
    SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
    FROM reach GROUP BY a
    """,
    doc="near-dup GROUPS: connected components over the verified MinHash-"
    "LSH pair graph via connected_components_star (driver-side "
    "union-find below its LOCAL_CC_MAX edge gate) — the step that "
    "turns pairs (A~B, B~C) into dedup clusters {{A,B,C}} (E30,E31). "
    "Iterative Spark loop vs a recursive-CTE oracle: the driver "
    "hash-checks a whole iterative graph algorithm",
    tags=("dedup", "iterative"),
)
def dedup_minhash_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, num_hashes=12, bands=4, threshold=0.8)
    return D.connected_components_star(pairs, "d1", "d2")


@register(
    "dedup_components_star",
    oracle=f"""
    WITH RECURSIVE {_minhash_pair_ctes()},
    {_reach_ctes()}
    SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
    FROM reach GROUP BY a
    """,
    doc="connected components via alternating large-star/small-star "
    "(Kiveris et al. SoCC'14) over the same verified LSH pair graph — "
    "the same composition as dedup_minhash_components: rounds scale with "
    "log(n), not graph diameter, and no high-degree hub re-ships its "
    "neighborhood every round; each round is two groupBy-min shuffles "
    "over a shrinking edge set (E30,E31)",
    tags=("dedup", "iterative"),
)
def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, num_hashes=12, bands=4, threshold=0.8)
    return D.connected_components_star(pairs, "d1", "d2")


_QUALITY_CTES = r"""
    q AS (
      SELECT doc_id,
             len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens,
             length(text) AS n_chars,
             len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct
      FROM documents
    ),
    kept AS (
      SELECT d.doc_id, d.text, d.lang, d.source, q.n_tokens
      FROM documents d JOIN q USING (doc_id)
      WHERE q.n_tokens >= 40 AND q.n_punct::DOUBLE / q.n_chars <= 0.1
    ),
    fp AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      FROM kept
    ),
    keepers AS (
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fp) AS keeper FROM fp
    ),
    s1 AS (
      SELECT k.* FROM kept k JOIN keepers u ON k.doc_id = u.doc_id
      WHERE u.doc_id = u.keeper
    )
"""


@register(
    "pipeline_clean_corpus",
    oracle=f"""
    WITH {_QUALITY_CTES},
    {_minhash_pair_ctes(src="s1")},
    dropped AS (SELECT DISTINCT d2 AS doc_id FROM pairs),
    s2 AS (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM dropped))
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM s2 GROUP BY lang, source
    ORDER BY lang, source
    """,
    doc="END-TO-END training-data pipeline: quality gate (length + punct "
    "ratio) -> exact dedup (normalized-text fingerprint, keep min id) -> "
    "near-dup dedup (MinHash-LSH pairs on survivors, drop the larger id "
    "of each pair) -> per-(lang, source) corpus stats. One lazy plan: "
    "Catalyst fuses the whole chain; the only shuffles are the dedup "
    "aggregations and the LSH band join (E30,E31,E38,E39 composed)",
    tags=("dedup", "text", "pipeline"),
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import fingerprint_exact, tokens
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id",
        "text",
        "lang",
        "source",
        F.size(tokens("text")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.regexp_count(F.col("text"), F.lit(r"[^A-Za-z0-9\s]")).alias("n_punct"),
    )
    kept = q.where(
        (F.col("n_tokens") >= 40)
        & (F.col("n_punct").cast("double") / F.col("n_chars") <= 0.1)
    ).select("doc_id", "text", "lang", "source", "n_tokens")
    w = W.partitionBy(fingerprint_exact("text"))
    s1 = (
        kept.withColumn("keeper", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("keeper"))
        .drop("keeper")
    )
    pairs = D.minhash_lsh_pairs(s1, num_hashes=12, bands=4, threshold=0.8)
    dropped = pairs.select(F.col("d2").alias("doc_id")).distinct()
    s2 = s1.join(dropped, "doc_id", "left_anti")
    return (
        s2.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("lang", "source")
    )


@register(
    "ann_topk_pandas",
    oracle=f"""
    WITH {_UNIT_CTE},
    q AS (SELECT vec_id AS q_id, u AS qu FROM e WHERE vec_id < 5),
    scored AS (
      SELECT q.q_id, c.vec_id AS neighbor_id,
             ROUND(list_dot_product(q.qu, c.u), 6) AS cosine
      FROM e c CROSS JOIN q WHERE c.vec_id <> q.q_id
    )
    SELECT q_id, neighbor_id, cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) t WHERE rank <= 10
    """,
    doc="vectorized exact top-k ANN: one numpy matmul per Arrow batch, "
    "local top-k per partition, global top-k window (E40 throughput "
    "path); same semantics as ann_topk_brute. BLAS accumulation order "
    "differs from a sequential fold only in float low bits (~1e-15), so "
    "the hash contract rounds cosines to 6dp and re-ranks on the "
    "rounded score with a neighbor_id tiebreak on BOTH engines; the "
    "operator over-fetches (k=12) so the rounded re-rank can never "
    "lose a boundary candidate",
    tags=("similarity", "approx"),
)
def ann_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    raw = S.brute_force_topk_pandas(queries, emb, "vec_id", "embedding", k=12)
    rounded = raw.select(
        "q_id", "neighbor_id", F.round("cosine", 6).alias("cosine")
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        rounded.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
    )


def _simhash_near_oracle(bits: int = 16, bands: int = 4, max_hamming: int = 2) -> str:
    w = bits // bands
    mask = (1 << w) - 1
    sims_body = _simhash_oracle(bits).strip()
    # reuse the signature query as a CTE: strip the leading WITH and wrap
    assert sims_body.startswith("WITH")
    inner = sims_body[len("WITH"):]
    return f"""
    WITH {inner.rsplit("SELECT", 1)[0]}
    , sims AS (SELECT {inner.rsplit("SELECT", 1)[1]})
    , bandids AS (SELECT unnest(generate_series(0, {bands - 1})) AS band)
    , banded AS (
        SELECT doc_id, simhash, band,
               (simhash >> (band * {w})) & {mask} AS bv
        FROM sims CROSS JOIN bandids
    )
    , cand AS (
        SELECT DISTINCT a.doc_id AS d1, a.simhash AS s1,
                        b.doc_id AS d2, b.simhash AS s2
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT d1, d2, bit_count(xor(s1, s2)) AS hamming
    FROM cand WHERE bit_count(xor(s1, s2)) <= {max_hamming}
    """


@register(
    "dedup_simhash_near",
    oracle=_simhash_near_oracle(),
    doc="simhash near-dup pairs within Hamming radius 2 via bit-band LSH "
    "(4 bands × 4 bits; pigeonhole: any pair at hamming <= 3 shares a "
    "band) + exact popcount verify (E31)",
    tags=("dedup",),
)
def dedup_simhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_near_pairs(docs, bits=16, bands=4, max_hamming=2)


@register(
    "dedup_embedding_components",
    oracle=f"""
    WITH RECURSIVE {_UNIT_CTE.rstrip()},
    pairs AS (
      SELECT a.vec_id AS v1, b.vec_id AS v2
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.u, b.u) >= 0.4
    ),
    {_reach_ctes("v1", "v2")}
    SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
    FROM reach GROUP BY a
    """,
    doc="embedding near-dup CLUSTERS: cosine pair graph (label-blocked) "
    "-> connected components via connected_components_star — the "
    "semantic-dedup composition (pairs alone under-merge transitive "
    "groups). Iterative Spark loop vs recursive-CTE oracle "
    "(E19,E30,E31 composed)",
    tags=("dedup", "similarity", "iterative"),
)
def dedup_embedding_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = D.embedding_near_dup_pairs(emb, threshold=0.4).select("v1", "v2")
    return D.connected_components_star(pairs, "v1", "v2")


@register(
    "dedup_edit_distance",
    oracle="""
    WITH k AS (
      SELECT doc_id, lang,
             substr(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), 1, 24) AS key
      FROM documents
    )
    SELECT a.lang AS blk, a.doc_id AS d1, b.doc_id AS d2,
           levenshtein(a.key, b.key) AS dist
    FROM k a JOIN k b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE levenshtein(a.key, b.key) <= 6
    """,
    doc="edit-distance near-dup pairs (E31, the typo/OCR-noise "
    "modality): normalized 24-char prefix keys compared with "
    "levenshtein <= 6 inside language blocks — blocking keeps the pair "
    "space per-block, the built-in JVM levenshtein keeps the O(k^2) DP "
    "off Python. At corpus scale the block key is a coarser cluster "
    "(simhash band / length bucket), same shape",
    tags=("dedup",),
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    k = docs.select(
        "doc_id",
        "lang",
        F.substring(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), 1, 24
        ).alias("key"),
    )
    a, b = k.alias("a"), k.alias("b")
    # Self-join blocked on lang (equi key) with an id-inequality
    # residual. NO broadcast hint: both sides are the full keyed corpus
    # (O(corpus)); the equi key makes this a shuffled hash join on
    # lang, and AQE broadcasts only if one side actually fits.
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .withColumn("dist", F.levenshtein(F.col("a.key"), F.col("b.key")))
        .where(F.col("dist") <= 6)
        .select(
            F.col("a.lang").alias("blk"),
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            "dist",
        )
    )


@register(
    "dedup_null_text",
    oracle=r"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0 THEN NULL ELSE text END AS text
      FROM documents
    ),
    fp AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      FROM d
    )
    SELECT doc_id, fp,
           MIN(doc_id) OVER (PARTITION BY fp) AS keeper_id,
           COUNT(*) OVER (PARTITION BY fp) AS group_size,
           CAST(ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) > 1 AS INT)
             AS is_dup
    FROM fp
    """,
    doc="NULL-key dedup semantics pinned (E30 edge case): null texts "
    "fingerprint to NULL, and window PARTITION BY groups all NULLs "
    "together on both engines — so null documents dedup to one keeper "
    "(min id) instead of each surviving. The behavior a real corpus "
    "with missing bodies hits on day one",
    tags=("dedup",),
)
def dedup_null_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(F.col("doc_id") % 10 == 0, F.lit(None).cast("string")).otherwise(
            F.col("text")
        ),
    )
    return D.exact_dedup(docs)


def _srp_oracle(bits: int = 16, bands: int = 4, threshold: float = 0.4) -> str:
    from ..operators.dedup import srp_signs

    signs = srp_signs(bits, 64)
    bit_terms = " + ".join(
        "(CASE WHEN list_dot_product(u, ["
        + ",".join(f"{x:.1f}" for x in signs[j])
        + f"]) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )
    r = bits // bands
    mask = (1 << r) - 1
    bands_lit = "[" + ",".join(str(b) for b in range(bands)) + "]"
    return f"""
    WITH raw AS (
      SELECT vec_id AS vid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    uu AS (
      SELECT vid,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
      FROM raw
    ),
    sk AS (SELECT vid, u, {bit_terms} AS sketch FROM uu),
    banded AS (
      SELECT vid, t.band, (sketch >> (t.band * {r})) & {mask} AS key
      FROM sk CROSS JOIN unnest({bands_lit}) AS t(band)
    ),
    cand AS (
      SELECT DISTINCT a.vid AS v1, b.vid AS v2
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.key = b.key AND a.vid < b.vid
    )
    SELECT v1, v2, list_dot_product(ua.u, ub.u) AS cosine
    FROM cand
    JOIN sk ua ON ua.vid = v1
    JOIN sk ub ON ub.vid = v2
    WHERE list_dot_product(ua.u, ub.u) >= {threshold}
    ORDER BY v1, v2
    """


@register(
    "dedup_srp_lsh",
    oracle=_srp_oracle(),
    doc="sign-random-projection LSH (Charikar 2002) cosine near-dup "
    "pairs over embeddings — the embedding-space sibling of MinHash "
    "(sets) and SimHash (token bags), and unlike "
    "dedup_embedding_cosine it needs NO precomputed blocking column: "
    "16 sign bits against fixed md5-derived Rademacher hyperplanes "
    "(identical constants injected into both engines), 4-bit bands, "
    "candidates = any shared band, exact-cosine verify at 0.4. "
    "Sketching is one narrow pass; the band join shuffles (band, key) "
    "pairs linear in the corpus; only colliding candidates pay the "
    "verification dot product (E31,E40)",
    tags=("dedup", "similarity"),
)
def dedup_srp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import srp_lsh_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return srp_lsh_pairs(emb, "vec_id", "embedding").orderBy("v1", "v2")


@register(
    "dedup_shingle_containment",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    cont AS (
      SELECT d1, d2, inter, n1, n2,
             inter::DOUBLE / n1 AS c1_in_2,
             inter::DOUBLE / n2 AS c2_in_1,
             GREATEST(inter::DOUBLE / n1, inter::DOUBLE / n2) AS containment
      FROM jac
    )
    SELECT d1, d2, inter, n1, n2, c1_in_2, c2_in_1, containment
    FROM cont WHERE containment >= 0.5
    ORDER BY d1, d2
    """,
    doc="asymmetric shingle CONTAINMENT pairs (Broder): |A∩B|/|A| "
    "catches subset duplication Jaccard misses — a short document "
    "quoted whole inside a long one is ~0 Jaccard but 1.0 "
    "containment; the quote/boilerplate/sub-document detector. Same "
    "shingle equi-join pair generation as dedup_ngram_jaccard (never "
    "a cross join), only the normalization differs (E31)",
    tags=("dedup",),
)
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import shingle_containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return shingle_containment_pairs(docs, threshold=0.5).orderBy("d1", "d2")


@register(
    "pipeline_leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE {_minhash_pair_ctes()},
    {_reach_ctes()},
    comp AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS unit
      FROM reach GROUP BY a
    ),
    u AS (
      SELECT d.doc_id, COALESCE(c.unit, d.doc_id) AS unit
      FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, unit,
           CASE WHEN unit % 10 = 0 THEN 'eval' ELSE 'train' END AS split
    FROM u ORDER BY doc_id
    """,
    doc="leakage-safe train/eval split (the decontamination complement "
    "— EXT, LLM pipeline): the split UNIT is the near-dup cluster, not "
    "the document. Verified MinHash-LSH pairs (shingle->minhash->band->"
    "bucket-join, linear, never all-pairs) group into connected "
    "components (large-star family); every document joins its "
    "component id (singletons are their own unit), and the unit id — "
    "not the doc id — decides train vs eval (unit % 10 here; swap in "
    "a salted hash in production). By construction NO near-dup pair "
    "straddles the boundary, the leak a doc-level random split cannot "
    "prevent: a paraphrase of an eval document can land in train. "
    "Composes two shipped operators (minhash_lsh_pairs + "
    "connected_components_star — the large-star/small-star variant, "
    "O(log n) rounds and no per-round hub-neighborhood re-broadcast, "
    "because near-dup graphs have boilerplate hubs at corpus scale; "
    "each component labelled by its min id); "
    "iterative Spark loop vs recursive-CTE oracle. One extra "
    "doc-keyed left join on top of the component cost; invariant "
    "pinned in tests/test_plan_quality.py",
    tags=("dedup", "pipeline", "iterative"),
)
def pipeline_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _component_units(spark, sf_dir).select(
        "doc_id",
        "unit",
        F.when(F.col("unit") % 10 == 0, F.lit("eval"))
        .otherwise(F.lit("train"))
        .alias("split"),
    ).orderBy("doc_id")


def _component_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, unit) where unit = near-dup connected-component min id
    (singletons are their own unit) — the shared split-unit relation of
    the leakage-safe split family. Uses the large-star/small-star CC:
    O(log n) rounds, degree hot-spots bounded, and a driver-side
    union-find for graphs under its edge gate."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, num_hashes=12, bands=4, threshold=0.8)
    comp = D.connected_components_star(pairs, "d1", "d2")
    return (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("component", "unit"), "doc_id", "left")
        .select(
            "doc_id", F.coalesce(F.col("unit"), F.col("doc_id")).alias("unit")
        )
    )


@register(
    "pipeline_leakage_safe_kfold",
    oracle=f"""
    WITH RECURSIVE {_minhash_pair_ctes()},
    {_reach_ctes()},
    comp AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS unit
      FROM reach GROUP BY a
    ),
    u AS (
      SELECT d.doc_id, COALESCE(c.unit, d.doc_id) AS unit
      FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, unit, CAST(unit % 5 AS INT) AS fold
    FROM u ORDER BY doc_id
    """,
    doc="leakage-safe K-FOLD assignment (k=5), the cross-validation "
    "generalization of pipeline_leakage_safe_split: the fold UNIT is "
    "the near-dup connected component, so for EVERY fold pair no "
    "near-dup pair straddles folds — a paraphrase can never sit in a "
    "fold's training complement while its twin sits in the held-out "
    "fold. unit-id mod k here (swap in a salted hash in production); "
    "same minhash_lsh_pairs + connected_components_star composition "
    "and recursive-CTE oracle as the split plan; all-fold-pairs "
    "invariant pinned in tests/test_plan_quality.py (EXT, LLM "
    "pipeline)",
    tags=("dedup", "pipeline", "iterative"),
)
def pipeline_leakage_safe_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _component_units(spark, sf_dir).select(
        "doc_id",
        "unit",
        (F.col("unit") % 5).cast("int").alias("fold"),
    ).orderBy("doc_id")


@register(
    "pipeline_semantic_decontaminate",
    oracle=f"""
    WITH {_UNIT_CTE},
    q AS (SELECT vec_id AS r_id, u AS ru FROM e WHERE vec_id < 25),
    c AS (SELECT vec_id, u FROM e WHERE vec_id >= 25),
    scored AS (
      SELECT c.vec_id, list_dot_product(c.u, q.ru) AS cosine
      FROM c CROSS JOIN q
    )
    SELECT vec_id,
           ROUND(MAX(cosine), 6) AS max_cosine,
           COUNT(*) FILTER (WHERE cosine >= 0.4) AS n_hits,
           CAST((COUNT(*) FILTER (WHERE cosine >= 0.4)) > 0 AS INT)
             AS contaminated
    FROM scored GROUP BY vec_id ORDER BY vec_id
    """,
    doc="SEMANTIC benchmark decontamination (E40/E48 composition, "
    "operators/similarity.py:semantic_screen): max embedding cosine of "
    "every corpus vector against the broadcast eval set (vec_id < 25 "
    "stands in for the fixed benchmark suite) — catches paraphrased / "
    "translated contamination that the 5-gram text_decontaminate is "
    "blind to. The eval side is scale-independent so it broadcasts; "
    "candidate generation is a map-side nested loop and the per-row "
    "max/hit-count collapse map-side (partial agg) before the single "
    "corpus-id shuffle — one narrow corpus scan at any scale. Both "
    "engines normalize once then fold the identical IEEE double dot "
    "product, so the max is bit-equal before 6-dp presentation "
    "rounding (EXT, LLM pipeline)",
    tags=("pipeline", "similarity", "dedup"),
)
def pipeline_semantic_decontaminate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    res = S.semantic_screen(
        emb.where(F.col("vec_id") >= 25),
        emb.where(F.col("vec_id") < 25),
        threshold=0.4,
    )
    return res.select(
        "vec_id",
        F.round("max_cosine", 6).alias("max_cosine"),
        "n_hits",
        "contaminated",
    ).orderBy("vec_id")


@register(
    "dedup_keep_best_quality",
    oracle=f"""
    WITH RECURSIVE {_minhash_pair_ctes()},
    {_reach_ctes()},
    comp AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS unit
      FROM reach GROUP BY a
    ),
    u AS (
      SELECT d.doc_id, d.n_chars, COALESCE(c.unit, d.doc_id) AS unit
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    ranked AS (
      SELECT doc_id, unit, n_chars,
             ROW_NUMBER() OVER (PARTITION BY unit
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM u
    )
    SELECT doc_id, unit, n_chars, CAST(rn = 1 AS INT) AS kept
    FROM ranked ORDER BY doc_id
    """,
    doc="quality-aware RETENTION per near-dup cluster (E31 composition): "
    "instead of min-id keep-first, each near-dup connected component "
    "keeps its BEST member — here the longest document (n_chars, "
    "doc_id tie-break), the keep-the-canonical-copy policy production "
    "corpus dedup actually wants (a quoted fragment dies, the full "
    "article survives). Same minhash_lsh_pairs + "
    "connected_components_star chain as the leakage-safe family "
    "(plans/dedup_sim.py:_component_units); the winner is the shared "
    "retention core operators/dedup.py:keep_best — a max_by(doc_id, "
    "(score, -doc_id)) AGGREGATE, not a component-partitioned window — "
    "max_by is partial-aggregable, so even a degenerate boilerplate "
    "mega-cluster (near-dup components are usually radius-bounded, "
    "but one template repeated across the corpus is not) collapses "
    "map-side instead of funneling through one window-sort task. "
    "Emits every doc with its unit and kept flag so the filter AND "
    "the audit trail are one result (EXT, LLM pipeline)",
    tags=("dedup", "pipeline", "iterative"),
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    t = _component_units(spark, sf_dir).join(docs, "doc_id")
    # keep_best's struct ordering is lexicographic: max score first,
    # then max of -doc_id = min doc_id — the same total tiebreak the
    # oracle's ROW_NUMBER (ORDER BY n_chars DESC, doc_id) expresses
    return (
        D.keep_best(t, unit_col="unit", id_col="doc_id", score_col="n_chars")
        .select("doc_id", "unit", "n_chars", "kept")
        .orderBy("doc_id")
    )


# Stopword list literal for the quality-score oracle (mirrors
# operators/text.py:quality_features, same literal plans/text.py uses).
_SW_Q = ",".join(f"'{w}'" for w in _T.QUALITY_STOPWORDS)


@register(
    "dedup_keep_best_scored",
    oracle=rf"""
    WITH RECURSIVE {{pair_ctes}},
    {_reach_ctes()},
    comp AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS unit
      FROM reach GROUP BY a
    ),
    qb AS (
      SELECT doc_id,
             len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens,
             length(text) AS n_chars,
             len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                 t -> list_contains([{{sw}}], t))) AS n_sw,
             len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct
      FROM documents
    ),
    qs AS (
      SELECT doc_id,
             LEAST(n_tokens::DOUBLE / 100.0, 1.0) * 0.5
               + LEAST((n_sw::DOUBLE / n_tokens) * 5.0, 1.0) * 0.3
               + (1.0 - LEAST((n_punct::DOUBLE / n_chars) * 10.0, 1.0)) * 0.2
               AS quality_score
      FROM qb
    ),
    u AS (
      SELECT d.doc_id, q.quality_score, COALESCE(c.unit, d.doc_id) AS unit
      FROM documents d
      JOIN qs q USING (doc_id)
      LEFT JOIN comp c USING (doc_id)
    ),
    ranked AS (
      SELECT doc_id, unit, quality_score,
             ROW_NUMBER() OVER (PARTITION BY unit
                                ORDER BY quality_score DESC, doc_id) AS rn
      FROM u
    )
    SELECT doc_id, unit, ROUND(quality_score, 6) AS quality_r6,
           CAST(rn = 1 AS INT) AS kept
    FROM ranked ORDER BY doc_id
    """.format(pair_ctes=_minhash_pair_ctes(), sw=_SW_Q),
    doc="quality-SCORE-parametrized retention (E31/E39 composition): "
    "the production generalization of dedup_keep_best_quality — the "
    "retention key is the calibrated composite text-quality score "
    "(operators/text.py:quality_features, the same C4/Gopher-style "
    "heuristic text_quality_calibrated gates on), not raw length, so "
    "each near-dup component keeps its BEST member (a clean full "
    "article beats a longer boilerplate-ridden scrape of it). Same "
    "minhash_lsh_pairs + connected_components_star unit relation and "
    "the same shared operators/dedup.py:keep_best core — the winner "
    "is a partial-aggregable max_by(doc_id, (score, -doc_id)), never "
    "a component-partitioned window, so a corpus-wide template "
    "mega-cluster collapses map-side. The score doubles are "
    "bit-identical cross-engine (IEEE +,-,*,/ and LEAST over "
    "identical integer inputs — proved by text_quality's unrounded "
    "oracle), so ranking on the unrounded score is hash-safe; 6-dp "
    "rounding is presentation only (EXT, LLM pipeline)",
    tags=("dedup", "pipeline", "text", "iterative"),
)
def dedup_keep_best_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    scored = _T.quality_features(docs, "text").select(
        "doc_id", "quality_score"
    )
    t = _component_units(spark, sf_dir).join(scored, "doc_id")
    return (
        D.keep_best(
            t, unit_col="unit", id_col="doc_id", score_col="quality_score"
        )
        .select(
            "doc_id",
            "unit",
            F.round("quality_score", 6).alias("quality_r6"),
            "kept",
        )
        .orderBy("doc_id")
    )


def _kmeans_screen_ctes() -> str:
    """Trained-quantizer CTEs for the IVF decontamination oracle —
    reuses the attested k-means chain (plans/clustering.py)."""
    from .clustering import _kmeans_ctes

    return _kmeans_ctes(k=4, iters=2, final_assign=True)


@register(
    "pipeline_semantic_decontaminate_ivf",
    oracle=f"""
    WITH {{kmeans}},
    u AS (
      SELECT vid, cid,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
      FROM a3
    ),
    q AS (SELECT cid AS cell, u AS ru FROM u WHERE vid < 25),
    probe AS (
      SELECT vid, cid AS cell FROM (
        SELECT vid, cid,
               ROW_NUMBER() OVER (PARTITION BY vid ORDER BY dist2, cid) AS rn
        FROM s3
      ) WHERE rn <= 2 AND vid >= 25
    ),
    cu AS (SELECT vid, u FROM u WHERE vid >= 25),
    scored AS (
      SELECT p.vid, list_dot_product(c.u, q.ru) AS cosine
      FROM probe p JOIN cu c USING (vid) LEFT JOIN q ON q.cell = p.cell
    )
    SELECT vid AS vec_id,
           ROUND(MAX(cosine), 6) AS max_cosine,
           COUNT(*) FILTER (WHERE cosine >= 0.4) AS n_hits,
           CAST((COUNT(*) FILTER (WHERE cosine >= 0.4)) > 0 AS INT)
             AS contaminated
    FROM scored GROUP BY vid ORDER BY vec_id
    """.format(kmeans=_kmeans_screen_ctes()),
    doc="IVF-PRUNED semantic decontamination (E40/E48 composition, "
    "operators/similarity.py:semantic_screen_ivf): the recall/cost "
    "knob documented on pipeline_semantic_decontaminate — each corpus "
    "vector is screened only against eval-set members in its TWO "
    "nearest cells of the trained k-means quantizer (the same k=4, "
    "2-Lloyd-round training + multiprobe assignment the attested "
    "ann_topk_multiprobe uses; NOT the random `label` column, which "
    "carries no geometry), cutting the per-row dot-product count "
    "from |eval| to |eval in probed cells|. Same physical shape as "
    "the full screen: broadcast scale-independent eval side, "
    "map-side candidate generation (equi-join on cell) and map-side "
    "max/hit partials before the single corpus-id shuffle — one "
    "narrow corpus scan at any scale, now with a smaller per-row "
    "constant. LEFT join keeps rows whose probed cells hold no eval "
    "member in the audit trail (max_cosine NULL, n_hits 0) — never "
    "dropped; contamination recall vs the full screen is pinned by a "
    "measured floor in tests/test_ann_recall.py (EXT, LLM pipeline)",
    tags=("pipeline", "similarity", "dedup", "iterative"),
)
def pipeline_semantic_decontaminate_ivf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..functions.vectors import as_double_array
    from ..operators.clustering import (
        kmeans_assign,
        kmeans_assign_topn,
        kmeans_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        F.col("vec_id").alias("vid"), as_double_array("embedding").alias("v")
    )
    cent = kmeans_centroids(emb, "vec_id", "embedding", k=4, iters=2)
    refs = kmeans_assign(e.where(F.col("vid") < 25), cent).select(
        F.col("vid").alias("vec_id"),
        F.col("v").alias("embedding"),
        F.col("cid").alias("cell"),
    )
    corpus = kmeans_assign_topn(
        e.where(F.col("vid") >= 25), cent, n=2
    ).select(
        F.col("vid").alias("vec_id"),
        F.col("v").alias("embedding"),
        F.col("cid").alias("cell"),
    )
    res = S.semantic_screen_ivf(corpus, refs, cell_col="cell", threshold=0.4)
    return res.select(
        "vec_id",
        F.round("max_cosine", 6).alias("max_cosine"),
        "n_hits",
        "contaminated",
    ).orderBy("vec_id")


# Source-priority tiers for the retention-policy matrix. The map is a
# PLUGGABLE policy constant (a production pipeline would load its own
# curated/licensed/crawl tiering); the driver tables carry 20 synthetic
# sources, tiered here deterministically.
_SRC_CURATED = ("src0", "src1", "src2", "src3")
_SRC_WEB = tuple(f"src{i}" for i in range(4, 12))
_SRC_CURATED_SQL = ",".join(f"'{s}'" for s in _SRC_CURATED)
_SRC_WEB_SQL = ",".join(f"'{s}'" for s in _SRC_WEB)


@register(
    "dedup_keep_best_source",
    oracle=f"""
    WITH RECURSIVE {_minhash_pair_ctes()},
    {_reach_ctes()},
    comp AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS unit
      FROM reach GROUP BY a
    ),
    pr AS (
      SELECT doc_id, source, n_chars,
             CASE WHEN source IN ({_SRC_CURATED_SQL}) THEN 3
                  WHEN source IN ({_SRC_WEB_SQL}) THEN 2
                  ELSE 1 END AS priority
      FROM documents
    ),
    u AS (
      SELECT p.doc_id, p.source, p.priority, p.n_chars,
             COALESCE(c.unit, p.doc_id) AS unit
      FROM pr p LEFT JOIN comp c USING (doc_id)
    ),
    ranked AS (
      SELECT doc_id, unit, source, priority,
             ROW_NUMBER() OVER (PARTITION BY unit
                                ORDER BY priority DESC, n_chars DESC,
                                         doc_id) AS rn
      FROM u
    )
    SELECT doc_id, unit, source, priority, CAST(rn = 1 AS INT) AS kept
    FROM ranked ORDER BY doc_id
    """,
    doc="source-PRIORITY retention per near-dup cluster (E31 "
    "composition) — the third member of the keep-best policy matrix "
    "(longest: dedup_keep_best_quality; best-scored: "
    "dedup_keep_best_scored; canonical-source: this plan). Each "
    "near-dup connected component keeps the member from the "
    "highest-priority source tier (curated > web > crawl — the "
    "licensing/provenance policy production corpora dedup by: the "
    "licensed canonical copy survives, its crawled mirrors die), "
    "tie-broken by length then doc_id via a STRUCT retention key "
    "(priority, n_chars) — a true lexicographic order, so no "
    "document length can ever promote a lower provenance tier (the "
    "r10 ADVICE hazard of an arithmetic priority*1e6+n_chars "
    "composite, which both engines would have inverted identically "
    "past n_chars >= 1e6, invisible to the oracle gate). "
    "documents has no timestamp column, so the r10-queue 'freshest' "
    "variant is expressed as this provenance tier instead — the same "
    "pluggable-key shape. Same minhash_lsh_pairs + "
    "connected_components_star unit relation and the same shared "
    "operators/dedup.py:keep_best core as its two siblings — the "
    "winner is a partial-aggregable max_by(doc_id, (key, -doc_id)), "
    "never a component-partitioned window, so a corpus-wide template "
    "mega-cluster collapses map-side (EXT, LLM pipeline)",
    tags=("dedup", "pipeline", "iterative"),
)
def dedup_keep_best_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    keyed = docs.withColumn(
        "priority",
        F.when(F.col("source").isin(*_SRC_CURATED), F.lit(3))
        .when(F.col("source").isin(*_SRC_WEB), F.lit(2))
        .otherwise(F.lit(1)),
    ).withColumn(
        # a STRUCT key compares lexicographically (priority first,
        # length second) — unlike an arithmetic composite, no n_chars
        # magnitude can cross tiers (r10 ADVICE)
        "retention_key",
        F.struct(F.col("priority"), F.col("n_chars")),
    )
    t = _component_units(spark, sf_dir).join(keyed, "doc_id")
    return (
        D.keep_best(
            t, unit_col="unit", id_col="doc_id", score_col="retention_key"
        )
        .select("doc_id", "unit", "source", "priority", "kept")
        .orderBy("doc_id")
    )


@register(
    "pipeline_dedup_card",
    oracle=f"""
    WITH RECURSIVE {_minhash_pair_ctes()},
    {_reach_ctes()},
    comp AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS unit
      FROM reach GROUP BY a
    ),
    u AS (
      SELECT d.doc_id, d.n_chars, COALESCE(c.unit, d.doc_id) AS unit
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    per_unit AS (
      SELECT unit, COUNT(*) AS sz,
             SUM(n_chars) AS bytes_total, MAX(n_chars) AS bytes_kept
      FROM u GROUP BY unit
    )
    SELECT sz AS cluster_size,
           COUNT(*) AS n_units,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(SUM(bytes_total) AS BIGINT) AS bytes_total,
           CAST(SUM(bytes_kept) AS BIGINT) AS bytes_kept,
           CAST(SUM(bytes_total) - SUM(bytes_kept) AS BIGINT)
             AS bytes_dropped
    FROM per_unit GROUP BY sz ORDER BY cluster_size
    """,
    doc="near-dup DEDUP CARD (E31/E52 composition): the savings report "
    "a production dedup run publishes — per near-dup cluster SIZE "
    "(singletons = size 1): how many clusters, how many documents, "
    "total bytes, bytes kept under the keep-one-per-cluster policy "
    "(the longest member — max n_chars per unit, matching "
    "dedup_keep_best_quality's winner), and bytes dropped. Same "
    "minhash_lsh_pairs + connected_components_star unit relation as "
    "the retention/leakage-safe family; the per-unit rollup and the "
    "size histogram are two partial-aggregable groupBys (unit-keyed "
    "then size-keyed, each strictly smaller than the last) — no "
    "window, no skew hazard even for a corpus-wide boilerplate "
    "mega-cluster. The cluster-size distribution is the dedup-health "
    "signal (a fat tail = template spam; mass at size 1 = clean "
    "corpus) (EXT, LLM pipeline)",
    tags=("dedup", "pipeline", "iterative"),
)
def pipeline_dedup_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    t = _component_units(spark, sf_dir).join(docs, "doc_id")
    per_unit = t.groupBy("unit").agg(
        F.count(F.lit(1)).alias("sz"),
        F.sum("n_chars").alias("bytes_total"),
        F.max("n_chars").alias("bytes_kept"),
    )
    return (
        per_unit.groupBy(F.col("sz").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).alias("n_units"),
            F.sum("sz").cast("bigint").alias("n_docs"),
            F.sum("bytes_total").alias("bytes_total"),
            F.sum("bytes_kept").alias("bytes_kept"),
            (F.sum("bytes_total") - F.sum("bytes_kept")).alias("bytes_dropped"),
        )
        .orderBy("cluster_size")
    )


@register(
    "pipeline_retention_suite",
    oracle=rf"""
    WITH RECURSIVE {_minhash_pair_ctes()},
    {_reach_ctes()},
    comp AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS unit
      FROM reach GROUP BY a
    ),
    qb AS (
      SELECT doc_id,
             len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens,
             length(text) AS len_chars,
             len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                 t -> list_contains([{_SW_Q}], t))) AS n_sw,
             len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct
      FROM documents
    ),
    qs AS (
      SELECT doc_id,
             LEAST(n_tokens::DOUBLE / 100.0, 1.0) * 0.5
               + LEAST((n_sw::DOUBLE / n_tokens) * 5.0, 1.0) * 0.3
               + (1.0 - LEAST((n_punct::DOUBLE / len_chars) * 10.0, 1.0)) * 0.2
               AS quality_score
      FROM qb
    ),
    pr AS (
      SELECT doc_id, n_chars,
             CASE WHEN source IN ({_SRC_CURATED_SQL}) THEN 3
                  WHEN source IN ({_SRC_WEB_SQL}) THEN 2
                  ELSE 1 END AS priority
      FROM documents
    ),
    u AS (
      SELECT p.doc_id, p.n_chars, p.priority, q.quality_score,
             COALESCE(c.unit, p.doc_id) AS unit
      FROM pr p
      JOIN qs q USING (doc_id)
      LEFT JOIN comp c USING (doc_id)
    ),
    agg AS (
      SELECT unit, COUNT(*) AS sz,
             CAST(SUM(n_chars) AS BIGINT) AS bytes_total,
             MAX(n_chars) AS bytes_kept
      FROM u GROUP BY unit
    ),
    wl AS (
      SELECT unit, doc_id AS winner_longest FROM (
        SELECT unit, doc_id,
               ROW_NUMBER() OVER (PARTITION BY unit
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM u
      ) WHERE rn = 1
    ),
    ws AS (
      SELECT unit, doc_id AS winner_scored FROM (
        SELECT unit, doc_id,
               ROW_NUMBER() OVER (PARTITION BY unit
                                  ORDER BY quality_score DESC, doc_id) AS rn
        FROM u
      ) WHERE rn = 1
    ),
    wp AS (
      SELECT unit, doc_id AS winner_source FROM (
        SELECT unit, doc_id,
               ROW_NUMBER() OVER (PARTITION BY unit
                                  ORDER BY priority DESC, n_chars DESC,
                                           doc_id) AS rn
        FROM u
      ) WHERE rn = 1
    )
    SELECT a.unit, a.sz, a.bytes_total, a.bytes_kept,
           CAST(a.bytes_total - a.bytes_kept AS BIGINT) AS bytes_dropped,
           wl.winner_longest, ws.winner_scored, wp.winner_source
    FROM agg a
    JOIN wl USING (unit) JOIN ws USING (unit) JOIN wp USING (unit)
    ORDER BY a.unit
    """,
    doc="composed RETENTION SUITE (E31/E52; r10-verdict Next-round #5): "
    "the production shape of the keep-best family — ONE "
    "minhash_lsh_pairs + connected_components_star pass over the "
    "corpus emits, per near-dup unit, the savings card columns "
    "(size, bytes total/kept/dropped under keep-longest) AND the "
    "winner under all three retention policies (longest = "
    "dedup_keep_best_quality's key; calibrated quality score = "
    "dedup_keep_best_scored's; provenance tier curated > web > crawl "
    "with length tiebreak = dedup_keep_best_source's). The four "
    "sibling plans each re-derive the unit relation because per-plan "
    "independence is the registry's contract; a production pipeline "
    "runs THIS plan — one LSH + CC chain, one scan of the per-doc "
    "policy keys (quality_features preserves its input columns, so "
    "source, n_chars, and the quality score ride one documents "
    "read), and ONE partial-aggregable groupBy(unit) computing every "
    "policy winner as a max_by(doc_id, key) aggregate — no "
    "component-partitioned window, so a corpus-wide boilerplate "
    "mega-cluster collapses map-side; N policy outputs for one "
    "component cost. Winners rank on the unrounded quality doubles "
    "(bit-identical cross-engine, proved by text_quality's unrounded "
    "oracle) (EXT, LLM pipeline)",
    tags=("dedup", "pipeline", "text", "iterative"),
)
def pipeline_retention_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", "text"
    )
    keyed = (
        _T.quality_features(docs, "text")
        .withColumn(
            "priority",
            F.when(F.col("source").isin(*_SRC_CURATED), F.lit(3))
            .when(F.col("source").isin(*_SRC_WEB), F.lit(2))
            .otherwise(F.lit(1)),
        )
        .select("doc_id", "n_chars", "priority", "quality_score")
    )
    t = _component_units(spark, sf_dir).join(keyed, "doc_id")
    nid = (-F.col("doc_id")).alias("__nid")
    return (
        t.groupBy("unit")
        .agg(
            F.count(F.lit(1)).alias("sz"),
            F.sum("n_chars").cast("bigint").alias("bytes_total"),
            F.max("n_chars").alias("bytes_kept"),
            F.max_by(
                "doc_id", F.struct(F.col("n_chars"), nid)
            ).alias("winner_longest"),
            F.max_by(
                "doc_id", F.struct(F.col("quality_score"), nid)
            ).alias("winner_scored"),
            F.max_by(
                "doc_id", F.struct(F.col("priority"), F.col("n_chars"), nid)
            ).alias("winner_source"),
        )
        .withColumn(
            "bytes_dropped",
            (F.col("bytes_total") - F.col("bytes_kept")).cast("bigint"),
        )
        .select(
            "unit", "sz", "bytes_total", "bytes_kept", "bytes_dropped",
            "winner_longest", "winner_scored", "winner_source",
        )
        .orderBy("unit")
    )


@register(
    "pipeline_retention_materialize",
    oracle=f"""
    WITH RECURSIVE {_minhash_pair_ctes()},
    {_reach_ctes()},
    comp AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS unit
      FROM reach GROUP BY a
    ),
    pr AS (
      SELECT doc_id, source, n_chars,
             CASE WHEN source IN ({_SRC_CURATED_SQL}) THEN 3
                  WHEN source IN ({_SRC_WEB_SQL}) THEN 2
                  ELSE 1 END AS priority
      FROM documents
    ),
    u AS (
      SELECT p.doc_id, p.source, p.priority, p.n_chars,
             COALESCE(c.unit, p.doc_id) AS unit
      FROM pr p LEFT JOIN comp c USING (doc_id)
    ),
    winners AS (
      SELECT doc_id, source, n_chars FROM (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY unit
                                  ORDER BY priority DESC, n_chars DESC,
                                           doc_id) AS rn
        FROM u
      ) WHERE rn = 1
    )
    SELECT source, COUNT(*) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS bytes_kept,
           MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
    FROM winners GROUP BY source ORDER BY source
    """,
    doc="retention-suite EXECUTOR (E5/E31 composition; r11-verdict "
    "queue item) — closes the loop from report to ARTIFACT: the "
    "provenance-policy winner set (the same minhash_lsh_pairs + "
    "connected_components_star units and STRUCT (priority, n_chars) "
    "retention key as dedup_keep_best_source / the retention suite) "
    "is joined back to documents and MATERIALIZED as a "
    "source-partitioned parquet corpus (partitionBy(source) — the "
    "lake layout downstream training jobs partition-prune by "
    "provenance tier), then READ BACK and aggregated per source — "
    "the returned row set comes from the materialized files, so the "
    "hash match proves the kept corpus on disk is exactly the "
    "logical winner set, not just that the winner logic is right. "
    "Scale shape: one LSH + CC-star chain (band-keyed, never "
    "all-pairs), winners via a partial-aggregable max_by — no "
    "component window — then a LEFT SEMI join of documents against "
    "the |units|-sized winner relation and one partitioned write; "
    "the read-back aggregate collapses map-side per source (EXT, "
    "LLM pipeline, sink)",
    tags=("dedup", "pipeline", "sink", "iterative"),
)
def pipeline_retention_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from .sources_plans import _tmp

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select("doc_id", "source", "n_chars").withColumn(
        "priority",
        F.when(F.col("source").isin(*_SRC_CURATED), F.lit(3))
        .when(F.col("source").isin(*_SRC_WEB), F.lit(2))
        .otherwise(F.lit(1)),
    ).withColumn(
        "retention_key", F.struct(F.col("priority"), F.col("n_chars"))
    )
    t = _component_units(spark, sf_dir).join(keyed, "doc_id")
    winners = (
        D.keep_best(
            t, unit_col="unit", id_col="doc_id", score_col="retention_key"
        )
        .where(F.col("kept") == 1)
        .select("doc_id")
    )
    kept_corpus = docs.select("doc_id", "source", "n_chars").join(
        winners, "doc_id", "left_semi"
    )
    path = _tmp(sf_dir, "retained")
    kept_corpus.write.mode("overwrite").partitionBy("source").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("bytes_kept"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("source")
    )
