"""Oracle-checked distributed k-means (E12/E40 trainer).

The DuckDB oracle unrolls the same Lloyd iterations as CTE blocks —
assignment by the ⟨v,v⟩−2⟨v,c⟩+⟨c,c⟩ identity (three sequential
``list_dot_product`` folds, bit-matching Spark's ``F.aggregate``
folds), update by exact-decimal per-dimension means — so a whole
iterative ML algorithm, centroid floats included, is hash-compared.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.clustering import kmeans_fit_predict
from ..sources import load_table
from . import register

#: Quantizer-training sample bound for the ANN-serving plans (r11
#: verdict item 1): Lloyd rounds train only on ``vid < _TRAIN_N``; the
#: full corpus is still assigned/encoded against the trained books —
#: the FAISS bounded-sample recipe, which turns training cost from
#: O(corpus × iters) shuffles into O(sample × iters) regardless of
#: corpus size. 512 covers the whole embeddings table at sf ≤ 0.01
#: (500 vectors — results there are bit-identical to full-corpus
#: training) and bounds it at sf0.1+ (2000 → 512). At 100 TB the same
#: knob holds the training relation at ~1M vectors. NOT applied to
#: kmeans_embeddings / dedup_semantic_clusters, where the full-corpus
#: clustering IS the plan's output semantics, not an index to serve
#: queries from.
_TRAIN_N = 512


def _kmeans_ctes(
    k: int = 4,
    iters: int = 2,
    final_assign: bool = False,
    train_n: int | None = None,
) -> str:
    """CTE chain e, c0, (s_i, a_i, x_i, m_i, c_i)*; with ``final_assign``
    one extra assignment block a{iters+1} against the trained c{iters}.
    ``train_n`` mirrors the operator's bounded-sample training
    (``kmeans_centroids(train_limit=...)``): Lloyd rounds read only
    ``vid < train_n``; the final assignment still covers every row."""
    ctes = [
        "e AS (SELECT vec_id AS vid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
    ]
    train = "e"
    if train_n is not None:
        ctes.append(f"et AS (SELECT * FROM e WHERE vid < {train_n})")
        train = "et"
    ctes.append(f"c0 AS (SELECT vid AS cid, v AS c FROM {train} WHERE vid < {k})")
    n_assign = iters + 1 if final_assign else iters
    prev = "c0"
    for i in range(1, n_assign + 1):
        src = "e" if i > iters else train
        # keep the un-aliased form when reading `e` directly so the
        # train_n=None string stays byte-identical to the pre-r12 oracle
        frm = "e" if src == "e" else f"{src} e"
        ctes.append(
            f"""s{i} AS (
      SELECT e.vid, e.v, c.cid,
             list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.c)
               + list_dot_product(c.c, c.c) AS dist2
      FROM {frm} CROSS JOIN {prev} c
    )"""
        )
        ctes.append(
            f"""a{i} AS (
      SELECT vid, v, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY dist2, cid) AS rn
        FROM s{i}
      ) WHERE rn = 1
    )"""
        )
        if i > iters:
            break  # final assignment only — no centroid update
        ctes.append(
            f"""x{i} AS (
      SELECT cid,
             UNNEST(generate_series(1, len(v))) AS pos,
             UNNEST(v) AS val
      FROM a{i}
    )"""
        )
        ctes.append(
            f"""m{i} AS (
      SELECT cid, pos,
             ROUND(CAST(SUM(CAST(val AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*), 9) AS m
      FROM x{i} GROUP BY cid, pos
    )"""
        )
        ctes.append(
            f"c{i} AS (SELECT cid, list(m ORDER BY pos) AS c FROM m{i} GROUP BY cid)"
        )
        prev = f"c{i}"
    return ",\n    ".join(ctes)


def _kmeans_oracle(k: int = 4, iters: int = 2) -> str:
    # One row per (cluster, dimension): ARRAY-typed final columns are
    # banned registry-wide (the driver canonicalizer can't sort list
    # cells), so the trained centroid ships exploded, not as DOUBLE[].
    return f"""
    WITH {_kmeans_ctes(k, iters)}
    SELECT z.cid, z.n_vecs, CAST(m.pos AS BIGINT) AS dim_idx,
           m.m AS centroid_val
    FROM (SELECT cid, COUNT(*) AS n_vecs FROM a{iters} GROUP BY cid) z
    JOIN m{iters} m USING (cid)
    ORDER BY z.cid, dim_idx
    """


@register(
    "kmeans_embeddings",
    oracle=_kmeans_oracle(k=4, iters=2),
    doc="deterministic k-means over embeddings (k=4, 2 Lloyd iterations): "
    "broadcast-cross-join assignment (dot-product identity), exact-"
    "decimal per-dim mean update — an iterative ML trainer whose "
    "centroid doubles hash-match the unrolled SQL oracle, one row per "
    "(cluster, dimension) so no ARRAY column reaches the driver "
    "(E12,E40)",
    tags=("similarity", "iterative"),
)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    fitted = kmeans_fit_predict(
        load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding", k=4, iters=2
    )
    return (
        fitted.select("cid", "n_vecs", F.posexplode("centroid"))
        .select(
            "cid",
            "n_vecs",
            (F.col("pos") + 1).cast("long").alias("dim_idx"),
            F.col("col").alias("centroid_val"),
        )
        .orderBy("cid", "dim_idx")
    )


@register(
    "ann_topk_learned_ivf",
    oracle=f"""
    WITH {_kmeans_ctes(k=4, iters=2, final_assign=True, train_n=_TRAIN_N)},
    u AS (
      SELECT vid, cid,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
      FROM a3
    ),
    q AS (SELECT vid AS q_id, cid AS cell, u AS qu FROM u WHERE vid < 5),
    scored AS (
      SELECT q.q_id, q.cell, c.vid AS neighbor_id,
             list_dot_product(q.qu, c.u) AS cosine
      FROM u c JOIN q ON c.cid = q.cell
      WHERE c.vid <> q.q_id
    )
    SELECT q_id, cell, neighbor_id, cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
    doc="LEARNED-index ANN: k-means-trained coarse quantizer (k=4, 2 "
    "Lloyd rounds on a bounded vid<512 training sample — the FAISS "
    "recipe; assignment covers every vector) -> every vector assigned "
    "to its cell -> queries probe only their own cell -> cosine top-10 "
    "on unit vectors. The complete train/index/probe IVF pipeline in "
    "one lazy plan, hash-matched end to end (E12,E40)",
    tags=("similarity", "iterative"),
)
def ann_topk_learned_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from ..functions.vectors import as_double_array, vec_divide, vec_dot
    from ..operators.clustering import kmeans_assign, kmeans_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        F.col("vec_id").alias("vid"), as_double_array("embedding").alias("v")
    )
    cent = kmeans_centroids(
        emb, "vec_id", "embedding", k=4, iters=2, train_limit=_TRAIN_N
    )
    assigned = kmeans_assign(e, cent)
    nrm = F.sqrt(vec_dot("v", "v"))
    unit = assigned.withColumn("u", vec_divide("v", nrm)).select("vid", "cid", "u")
    q = unit.where(F.col("vid") < 5).select(
        F.col("vid").alias("q_id"), F.col("cid").alias("cell"), F.col("u").alias("qu")
    )
    c = unit.select(
        F.col("vid").alias("neighbor_id"), F.col("cid").alias("cell"),
        F.col("u").alias("cu"),
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .where(F.col("neighbor_id") != F.col("q_id"))
        .withColumn("cosine", vec_dot("qu", "cu"))
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("q_id", "cell", "neighbor_id", "cosine", "rank")
    )


@register(
    "ann_topk_multiprobe",
    oracle=f"""
    WITH {_kmeans_ctes(k=4, iters=2, final_assign=True, train_n=_TRAIN_N)},
    u AS (
      SELECT vid, cid,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
      FROM a3
    ),
    qprobe AS (
      SELECT vid AS q_id, cid AS cell FROM (
        SELECT vid, cid,
               ROW_NUMBER() OVER (PARTITION BY vid ORDER BY dist2, cid) AS rn
        FROM s3
      ) WHERE rn <= 2 AND vid < 5
    ),
    q AS (SELECT vid AS q_id, u AS qu FROM u WHERE vid < 5),
    scored AS (
      SELECT p.q_id, c.vid AS neighbor_id,
             list_dot_product(q.qu, c.u) AS cosine
      FROM qprobe p
      JOIN u c ON c.cid = p.cell
      JOIN q ON q.q_id = p.q_id
      WHERE c.vid <> p.q_id
    )
    SELECT q_id, neighbor_id, cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
    doc="multi-probe learned IVF (E40): queries probe their TWO nearest "
    "k-means cells instead of one — measured recall@10 vs brute force "
    "rises from 0.78 (single-probe) to ~1.0 on the test embeddings "
    "(pinned in tests/test_ann_recall.py) for 2x probe fan-out; the "
    "corpus stays single-assigned so probed subsets are disjoint. "
    "Hash-matched end to end through the trained quantizer",
    tags=("similarity", "iterative"),
)
def ann_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from ..functions.vectors import as_double_array, vec_divide, vec_dot
    from ..operators.clustering import (
        kmeans_assign,
        kmeans_assign_topn,
        kmeans_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        F.col("vec_id").alias("vid"), as_double_array("embedding").alias("v")
    )
    cent = kmeans_centroids(
        emb, "vec_id", "embedding", k=4, iters=2, train_limit=_TRAIN_N
    )
    assigned = kmeans_assign(e, cent)
    from pyspark.storagelevel import StorageLevel

    nrm = F.sqrt(vec_dot("v", "v"))
    # persisted: the query side and the corpus side both consume the
    # normalized relation; without this the assign+normalize re-runs
    unit = (
        assigned.withColumn("u", vec_divide("v", nrm))
        .select("vid", "cid", "u")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    probes = (
        kmeans_assign_topn(e.where(F.col("vid") < 5), cent, n=2)
        .select(F.col("vid").alias("q_id"), F.col("cid").alias("cell"))
    )
    q = unit.where(F.col("vid") < 5).select(
        F.col("vid").alias("q_id"), F.col("u").alias("qu")
    )
    c = unit.select(
        F.col("vid").alias("neighbor_id"), F.col("cid").alias("cell"),
        F.col("u").alias("cu"),
    )
    scored = (
        c.join(F.broadcast(probes), "cell")
        .join(F.broadcast(q), "q_id")
        .where(F.col("neighbor_id") != F.col("q_id"))
        .withColumn("cosine", vec_dot("qu", "cu"))
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("q_id", "neighbor_id", "cosine", "rank")
    )


@register(
    "dedup_semantic_clusters",
    oracle=f"""
    WITH RECURSIVE {_kmeans_ctes(k=4, iters=2, final_assign=True)},
    uu AS (
      SELECT vid, cid,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
      FROM a3
    ),
    ws AS (
      SELECT uu.vid, uu.cid, uu.u,
             list_dot_product(uu.u, c.c) / sqrt(list_dot_product(c.c, c.c))
               AS cent_sim
      FROM uu JOIN c2 c ON uu.cid = c.cid
    ),
    pairs AS (
      SELECT a.vid AS v1, b.vid AS v2
      FROM uu a JOIN uu b ON a.cid = b.cid AND a.vid < b.vid
      WHERE list_dot_product(a.u, b.u) >= 0.4
    ),
    und AS (
      SELECT v1 AS a, v2 AS b FROM pairs
      UNION
      SELECT v2 AS a, v1 AS b FROM pairs
    ),
    reach AS (
      SELECT a, b FROM und
      UNION
      SELECT r.a, u2.b FROM reach r JOIN und u2 ON r.b = u2.a
    ),
    comp AS (SELECT a AS vid, LEAST(a, MIN(b)) AS component
             FROM reach GROUP BY a)
    SELECT vid, cid, component, cent_sim, (rn = 1) AS kept FROM (
      SELECT ws.vid, ws.cid, comp.component, ws.cent_sim,
             ROW_NUMBER() OVER (PARTITION BY comp.component
                 ORDER BY ws.cent_sim, ws.vid) AS rn
      FROM ws JOIN comp ON ws.vid = comp.vid
    ) ORDER BY vid
    """,
    doc="SemDeDup (Abbas et al. 2023) end to end: k-means the embedding "
    "space (k=4, 2 Lloyd rounds), cosine near-dup pairs ONLY within "
    "each learned cluster (the clustering prunes the O(n²) pair space "
    "to per-cell blocks), connected components over the pair graph, "
    "and per duplicate-group keep the member LEAST similar to its "
    "centroid — the paper's keep rule. Trained quantizer, pair graph, "
    "iterative components, and the keep decision all hash-checked "
    "against the unrolled recursive-CTE oracle (E12,E19,E31,E40)",
    tags=("dedup", "similarity", "iterative"),
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import semdedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup(emb, "vec_id", "embedding", k=4, iters=2, threshold=0.4)


def _pq_ctes(
    m: int = 16,
    d: int = 4,
    k: int = 16,
    iters: int = 2,
    n_q: int = 5,
    train_n: int | None = None,
) -> str:
    """CTE chain for product quantization with the subspace index ``s``
    as a DATA column (one Lloyd chain keyed by s — mirrors the Spark
    operator, whose plan size is O(iters), not O(m·iters)).
    ``train_n`` mirrors ``pq_topk(train_limit=...)``: Lloyd rounds read
    only ``vid < train_n``; the final encode still covers every row."""
    parts = [
        "raw AS (SELECT vec_id AS vid, list_transform(embedding, "
        "x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
        "uu AS (SELECT vid, list_transform(v, "
        "x -> x / sqrt(list_dot_product(v, v))) AS u FROM raw)",
        f"""sub AS (
      SELECT vid, s, u[s*{d}+1 : (s+1)*{d}] AS v
      FROM (SELECT vid, u, UNNEST(range(0, {m})) AS s FROM uu)
    )""",
    ]
    train = "sub"
    if train_n is not None:
        parts.append(f"subt AS (SELECT * FROM sub WHERE vid < {train_n})")
        train = "subt"
    parts.append(
        f"cc0 AS (SELECT s, vid AS cid, v AS c FROM {train} WHERE vid < {k})"
    )
    prev = "cc0"
    for i in range(1, iters + 2):
        src = "sub" if i > iters else train
        parts.append(
            f"""sd{i} AS (
      SELECT e.vid, e.s, e.v, c.cid,
             list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.c)
               + list_dot_product(c.c, c.c) AS dist2
      FROM {src} e JOIN {prev} c ON e.s = c.s
    )"""
        )
        parts.append(
            f"""aa{i} AS (
      SELECT vid, s, v, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vid, s
                    ORDER BY dist2, cid) AS rn
        FROM sd{i}
      ) WHERE rn = 1
    )"""
        )
        if i > iters:
            break
        parts.append(
            f"""xx{i} AS (
      SELECT s, cid, UNNEST(generate_series(1, len(v))) AS pos, UNNEST(v) AS val
      FROM aa{i}
    )"""
        )
        parts.append(
            f"""mm{i} AS (
      SELECT s, cid, pos,
             ROUND(CAST(SUM(CAST(val AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*), 9) AS m
      FROM xx{i} GROUP BY s, cid, pos
    )"""
        )
        parts.append(
            f"cc{i} AS (SELECT s, cid, list(m ORDER BY pos) AS c "
            f"FROM mm{i} GROUP BY s, cid)"
        )
        prev = f"cc{i}"
    fa = iters + 1
    parts.append(f"qq AS (SELECT vid AS q_id, u FROM uu WHERE vid < {n_q})")
    parts.append(
        f"""qsub AS (
      SELECT q_id, s, u[s*{d}+1 : (s+1)*{d}] AS qs
      FROM (SELECT q_id, u, UNNEST(range(0, {m})) AS s FROM qq)
    )"""
    )
    parts.append(
        f"""lut AS (
      SELECT q.q_id, c.s, c.cid, list_dot_product(q.qs, c.c) AS dd
      FROM qsub q JOIN cc{iters} c ON q.s = c.s
    )"""
    )
    parts.append(
        f"""pd AS (
      SELECT l.q_id, k2.vid, k2.s, l.dd
      FROM aa{fa} k2 JOIN lut l ON l.s = k2.s AND l.cid = k2.cid
      WHERE k2.vid <> l.q_id
    )"""
    )
    parts.append(
        """scored AS (
      SELECT q_id, vid,
             list_reduce([0.0] || list(dd ORDER BY s), (acc, x) -> acc + x)
               AS approx_cosine
      FROM pd GROUP BY q_id, vid
    )"""
    )
    return ",\n    ".join(parts)


@register(
    "ann_topk_pq",
    oracle=f"""
    WITH {_pq_ctes(m=16, d=4, k=16, iters=2, n_q=5, train_n=_TRAIN_N)}
    SELECT q_id, vid AS neighbor_id, approx_cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY approx_cosine DESC, vid) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
    doc="product-quantization ANN (Jégou et al. 2011): 64-dim unit "
    "vectors split into 16 subspaces AS ROWS (subspace id is data, so "
    "plan size is O(iters), not O(m)), one Lloyd loop trains all 16 "
    "codebooks at once keyed by s on a BOUNDED vid<512 sample (the "
    "FAISS recipe — training cost is O(sample), not O(corpus), per "
    "round), corpus encoded to 16 small codes/"
    "vector, queries scored by asymmetric distance — per-query (s,code) "
    "dot LUT broadcast, partials folded in subspace order from 0.0 so "
    "the doubles are bit-identical cross-engine. The compressed-domain "
    "scan is the 100 TB play: codes are ~2% of vector bytes, and "
    "scoring never shuffles the raw vectors — one narrow pass + one "
    "(q_id,vid) aggregation. Codebook training, encoding, and ADC "
    "scores all hash-matched; recall floor vs exact scan pinned in "
    "tests/test_ann_recall.py (E40,E54)",
    tags=("similarity", "iterative"),
)
def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(emb["vec_id"] < 5)
    return pq_topk(
        emb, queries, "vec_id", "embedding", m=16, codes_k=16, iters=2, k=10,
        n_dims=64, train_limit=_TRAIN_N,
    )


@register(
    "ann_topk_pq_refine",
    oracle=f"""
    WITH {_pq_ctes(m=16, d=4, k=16, iters=2, n_q=5, train_n=_TRAIN_N)},
    short AS (
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
    )
    SELECT q_id, vid AS neighbor_id, cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY cosine DESC, vid) AS rank
      FROM ref
    ) WHERE rank <= 10
    """,
    doc="PQ ANN with exact re-rank (FAISS IndexRefine): the ADC "
    "compressed-domain scan shortlists the top-50 candidates per "
    "query, then ONLY the shortlist fetches raw unit vectors for an "
    "exact cosine re-rank to top-10. The two-stage shape is the "
    "production recall/throughput trade at 100 TB: the full corpus is "
    "scanned as ~2% code bytes, the exact pass touches 50 x |queries| "
    "vectors — thousands, not billions. Training, encoding, ADC "
    "shortlist, and the refined ranks all hash-matched end to end "
    "(E40,E54)",
    tags=("similarity", "iterative"),
)
def ann_topk_pq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(emb["vec_id"] < 5)
    return pq_topk(
        emb, queries, "vec_id", "embedding", m=16, codes_k=16, iters=2, k=10,
        n_dims=64, refine=50, train_limit=_TRAIN_N,
    )



def _ivfpq_ctes(
    k_coarse: int = 4,
    coarse_iters: int = 2,
    n_probe: int = 2,
    m: int = 16,
    d: int = 4,
    codes_k: int = 16,
    iters: int = 2,
    n_q: int = 5,
    train_n: int | None = None,
) -> str:
    """CTE chain for IVFADC: the coarse k-means chain RE-BASED onto the
    unit vectors (for unit vectors L2 and cosine rank identically, and
    the inner-product decomposition qu.u = qu.c + qu.r is exact), then
    the PQ Lloyd chain over the RESIDUALS keyed by the subspace index
    ``s`` — mirrors operators/similarity.py:ivfpq_topk. ``train_n``
    mirrors ``ivfpq_topk(train_limit=...)``: BOTH Lloyd chains train
    only on ``vid < train_n``; full-corpus assignment/encode and the
    query-side relations are unchanged."""
    parts = [
        "raw AS (SELECT vec_id AS vid, list_transform(embedding, "
        "x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
        "uu AS (SELECT vid, list_transform(v, "
        "x -> x / sqrt(list_dot_product(v, v))) AS u FROM raw)",
    ]
    gtrain = "uu"
    if train_n is not None:
        parts.append(f"uut AS (SELECT * FROM uu WHERE vid < {train_n})")
        gtrain = "uut"
    parts.append(
        f"gc0 AS (SELECT vid AS cid, u AS c FROM {gtrain} WHERE vid < {k_coarse})"
    )
    prev = "gc0"
    for i in range(1, coarse_iters + 2):
        src = "uu" if i > coarse_iters else gtrain
        parts.append(
            f"""gs{i} AS (
      SELECT e.vid, e.u, c.cid,
             list_dot_product(e.u, e.u) - 2 * list_dot_product(e.u, c.c)
               + list_dot_product(c.c, c.c) AS dist2
      FROM {src} e CROSS JOIN {prev} c
    )"""
        )
        parts.append(
            f"""ga{i} AS (
      SELECT vid, u, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY dist2, cid) AS rn
        FROM gs{i}
      ) WHERE rn = 1
    )"""
        )
        if i > coarse_iters:
            break
        parts.append(
            f"""gx{i} AS (
      SELECT cid, UNNEST(generate_series(1, len(u))) AS pos, UNNEST(u) AS val
      FROM ga{i}
    )"""
        )
        parts.append(
            f"""gm{i} AS (
      SELECT cid, pos,
             ROUND(CAST(SUM(CAST(val AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*), 9) AS mval
      FROM gx{i} GROUP BY cid, pos
    )"""
        )
        parts.append(
            f"gc{i} AS (SELECT cid, list(mval ORDER BY pos) AS c "
            f"FROM gm{i} GROUP BY cid)"
        )
        prev = f"gc{i}"
    fa = coarse_iters + 1
    parts.append(
        f"""res AS (
      SELECT a.vid, a.cid AS cell,
             list_transform(generate_series(1, len(a.u)), i -> a.u[i] - c.c[i]) AS r
      FROM ga{fa} a JOIN gc{coarse_iters} c ON a.cid = c.cid
    )"""
    )
    parts.append(
        f"""sub AS (
      SELECT vid, cell, s, r[s*{d}+1 : (s+1)*{d}] AS v
      FROM (SELECT vid, cell, r, UNNEST(range(0, {m})) AS s FROM res)
    )"""
    )
    ptrain = "sub"
    if train_n is not None:
        parts.append(f"subt AS (SELECT * FROM sub WHERE vid < {train_n})")
        ptrain = "subt"
    parts.append(
        f"cc0 AS (SELECT s, vid AS cid, v AS c FROM {ptrain} WHERE vid < {codes_k})"
    )
    prev = "cc0"
    for i in range(1, iters + 2):
        src = "sub" if i > iters else ptrain
        parts.append(
            f"""sd{i} AS (
      SELECT e.vid, e.cell, e.s, e.v, c.cid,
             list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.c)
               + list_dot_product(c.c, c.c) AS dist2
      FROM {src} e JOIN {prev} c ON e.s = c.s
    )"""
        )
        parts.append(
            f"""aa{i} AS (
      SELECT vid, cell, s, v, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vid, s
                    ORDER BY dist2, cid) AS rn
        FROM sd{i}
      ) WHERE rn = 1
    )"""
        )
        if i > iters:
            break
        parts.append(
            f"""xx{i} AS (
      SELECT s, cid, UNNEST(generate_series(1, len(v))) AS pos, UNNEST(v) AS val
      FROM aa{i}
    )"""
        )
        parts.append(
            f"""mm{i} AS (
      SELECT s, cid, pos,
             ROUND(CAST(SUM(CAST(val AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*), 9) AS mval
      FROM xx{i} GROUP BY s, cid, pos
    )"""
        )
        parts.append(
            f"cc{i} AS (SELECT s, cid, list(mval ORDER BY pos) AS c "
            f"FROM mm{i} GROUP BY s, cid)"
        )
        prev = f"cc{i}"
    pfa = iters + 1
    parts.append(f"qq AS (SELECT vid AS q_id, u FROM uu WHERE vid < {n_q})")
    parts.append(
        f"""qsub AS (
      SELECT q_id, s, u[s*{d}+1 : (s+1)*{d}] AS qs
      FROM (SELECT q_id, u, UNNEST(range(0, {m})) AS s FROM qq)
    )"""
    )
    parts.append(
        f"""lut AS (
      SELECT q.q_id, c.s, c.cid, list_dot_product(q.qs, c.c) AS dd
      FROM qsub q JOIN cc{iters} c ON q.s = c.s
    )"""
    )
    parts.append(
        f"""probes AS (
      SELECT vid AS q_id, cid AS cell FROM (
        SELECT vid, cid,
               ROW_NUMBER() OVER (PARTITION BY vid ORDER BY dist2, cid) AS rn
        FROM gs{fa} WHERE vid < {n_q}
      ) WHERE rn <= {n_probe}
    )"""
    )
    parts.append(
        f"""qcr AS (
      SELECT p.q_id, p.cell, list_dot_product(q.u, c.c) AS qc
      FROM probes p
      JOIN qq q ON q.q_id = p.q_id
      JOIN gc{coarse_iters} c ON c.cid = p.cell
    )"""
    )
    parts.append(
        f"""pd AS (
      SELECT b.q_id, k2.vid, k2.s, l.dd, b.qc
      FROM aa{pfa} k2
      JOIN qcr b ON b.cell = k2.cell
      JOIN lut l ON l.q_id = b.q_id AND l.s = k2.s AND l.cid = k2.cid
      WHERE k2.vid <> b.q_id
    )"""
    )
    parts.append(
        """scored AS (
      SELECT q_id, vid,
             MAX(qc) + list_reduce([0.0] || list(dd ORDER BY s), (acc, x) -> acc + x)
               AS approx_cosine
      FROM pd GROUP BY q_id, vid
    )"""
    )
    return ",\n    ".join(parts)


@register(
    "ann_topk_ivfpq",
    oracle=f"""
    WITH {_ivfpq_ctes(k_coarse=4, coarse_iters=2, n_probe=2, m=16, d=4,
                      codes_k=16, iters=2, n_q=5, train_n=_TRAIN_N)},
    short AS (
      SELECT q_id, vid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                    ORDER BY approx_cosine DESC, vid) AS arank
        FROM scored
      ) WHERE arank <= 50
    ),
    refx AS (
      SELECT s.q_id, s.vid, list_dot_product(cu2.u, qu2.u) AS cosine
      FROM short s
      JOIN uu cu2 ON cu2.vid = s.vid
      JOIN uu qu2 ON qu2.vid = s.q_id
    )
    SELECT q_id, vid AS neighbor_id, cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY cosine DESC, vid) AS rank
      FROM refx
    ) WHERE rank <= 10
    """,
    doc="IVFADC end to end (Jegou et al. 2011; the FAISS IndexIVFPQ + "
    "IndexRefine stack — the standard billion-scale layout): coarse "
    "quantizer trained IN UNIT SPACE (k=4, 2 Lloyd rounds; for unit "
    "vectors L2 and cosine rank identically) and residual codebooks "
    "both trained on a BOUNDED vid<512 sample (the FAISS recipe; "
    "assignment and encoding cover the corpus), corpus encoded as "
    "(cell, 16 residual codes) — product quantization of the "
    "RESIDUALS u - c(cell), which carry less variance than the raw "
    "vectors, so the same code budget quantizes finer than plain PQ. "
    "Queries probe their 2 nearest cells; a candidate's approximate "
    "cosine is the EXACT inner-product decomposition qu.u = qu.c + "
    "qu.r ~ qc + sum_s LUT[s, code_s] (per-query base term + "
    "broadcast (s,code) LUT, folded in subspace order from 0.0 — "
    "bit-identical cross-engine); the ADC top-50 shortlist is exactly "
    "re-ranked on raw unit vectors to top-10. Scale shape: the "
    "vector corpus is scanned as ~2% code bytes AND only in the "
    "probed cells (candidates = cell-equi-join against the broadcast "
    "probe relation — IVF cuts the scanned fraction to ~n_probe/k); "
    "no raw-vector shuffle anywhere; every per-query rank is an "
    "exact distributed grouped_row_numbers rank. Coarse training, "
    "residual codebooks, encoding, ADC scores, and the refined ranks "
    "all hash-matched end to end; recall floor vs the exact scan "
    "pinned in tests/test_ann_recall.py (E40,E54)",
    tags=("similarity", "iterative"),
)
def ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(emb["vec_id"] < 5)
    return ivfpq_topk(
        emb, queries, "vec_id", "embedding",
        k_coarse=4, coarse_iters=2, n_probe=2,
        m=16, codes_k=16, iters=2, k=10, n_dims=64, refine=50,
        train_limit=_TRAIN_N,
    )


# --------------------------------------------------------------------------
# embedding_pca_gram — top principal component of the embedding cloud
# via a ONE-PASS distributed Gram matrix + driver-side eigen-solve.
#
# Scale shape: the data pass reduces N vectors to a d x d Gram (d=64 →
# 2,080 upper-triangle cells) with ZERO joins: an Arrow-batched
# mapInPandas computes each batch's PARTIAL Gram as one numpy int64
# matmul (Q^T Q — the treeAggregate-of-outer-products shape Spark ML's
# RowMatrix uses) and emits 2,080 (i, j, partial, batch_rows) cells;
# the only shuffle is the final 2,080-key hash aggregate. A pure
# expression formulation (nested transform/flatten/explode) was
# measured 40x slower — nested higher-order lambdas evaluate
# interpreted per element, ~d^2 Catalyst evals per row — while numpy
# does the same d^2 work vectorized per THOUSANDS of rows. Nothing is
# all-pairs over ROWS, and at 100 TB the reduce output is still 2,080
# cells; n_vecs rides the same pass on the (0,0) cell's row count, so
# the whole plan is genuinely one scan. The d x d eigen-solve is
# driver-side numpy on that tiny matrix (a documented tiny-relation
# collect, like the k-means centroid step); power iteration was
# rejected because synthetic embeddings have a near-degenerate top
# eigen-gap, where it converges arbitrarily slowly.
#
# Determinism: values quantize to integers (sign-aware
# floor(|v·1e6|+0.5), bit-matching Spark/DuckDB ROUND's
# half-away-from-zero) so every partial Gram is integer-EXACT in int64
# (|v| < 0.6 → |q| <= 6e5 → a 10k-row Arrow batch's cell sum <= 3.6e15,
# far under 2^63) and the cross-batch sum accumulates in decimal(38,0)
# (ANSI-safe) — batch/partition order cannot perturb a single bit. The
# oracle checks the exact integer trace and vector count; the eigen
# outputs are certified by in-plan bounds (residual ||Gv - λv|| <=
# 1e-9·λ; 0 <= λ <= trace), the same exact+bound contract as the
# sketch plans.
# --------------------------------------------------------------------------
@register(
    "embedding_pca_gram",
    oracle="""
    WITH q AS (
      SELECT UNNEST(list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0, 0) AS BIGINT)))
             AS qv
      FROM embeddings
    )
    SELECT (SELECT COUNT(*) FROM embeddings) AS n_vecs,
           CAST(SUM(qv * qv) AS BIGINT) AS trace_q,
           TRUE AS resid_ok,
           TRUE AS eig_bounded
    FROM q
    """,
    doc="top principal component by one-pass integer-exact Gram matrix "
    "+ driver-side eigen-solve on the d x d result; exact trace "
    "oracle + in-plan eigen residual bound (E12/E70 deterministic "
    "model stats)",
    tags=("similarity", "stats"),
)
def embedding_pca_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")

    def _gram_partials(batches):
        # executor-side: one int64 matmul per Arrow batch — the
        # vectorized equivalent of summing per-row outer products.
        # Integer arithmetic keeps every partial exact, so the final
        # cross-batch sum is independent of batch/partition order.
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            w = Q * 1000000.0
            # half-away-from-zero, matching Spark F.round / DuckDB ROUND
            qn = (np.sign(w) * np.floor(np.abs(w) + 0.5)).astype(np.int64)
            G = qn.T @ qn
            iu, ju = np.triu_indices(G.shape[0])
            yield pd.DataFrame(
                {
                    "i": iu.astype(np.int64),
                    "j": ju.astype(np.int64),
                    "p": G[iu, ju],
                    "n_rows": np.int64(len(pdf)),
                }
            )

    gram = (
        emb.select("embedding")
        .mapInPandas(_gram_partials, "i bigint, j bigint, p bigint, n_rows bigint")
        .groupBy("i", "j")
        .agg(
            F.sum(F.col("p").cast("decimal(38,0)")).alias("g"),
            F.sum("n_rows").alias("cnt"),
        )
    )
    cells = gram.collect()  # d*(d+1)/2 cells — metadata-sized, like the
    # k-means centroid collect; the N-row data pass stayed distributed
    if not cells:
        # empty table: mirror the oracle's global aggregate over zero
        # rows (COUNT = 0, SUM = NULL) with vacuously-true bounds
        return spark.createDataFrame(
            [(0, None, True, True)],
            "n_vecs BIGINT, trace_q BIGINT, resid_ok BOOLEAN, eig_bounded BOOLEAN",
        )
    d = 1 + max(c["i"] for c in cells)
    G = np.zeros((d, d), dtype=np.float64)
    n_vecs = 0
    for c in cells:
        G[c["i"], c["j"]] = G[c["j"], c["i"]] = float(c["g"])
        if c["i"] == 0 and c["j"] == 0:
            n_vecs = int(c["cnt"])
    trace_q = int(sum(int(c["g"]) for c in cells if c["i"] == c["j"]))
    # exact symmetric eigensolve on the tiny d x d matrix:
    # deterministic (fixed input, no RNG) and immune to the
    # near-degenerate eigen-gap that stalls power iteration
    eigvals, eigvecs = np.linalg.eigh(G)
    lam = float(eigvals[-1])
    v = eigvecs[:, -1]
    resid = float(np.linalg.norm(G @ v - lam * v))
    resid_ok = bool(resid <= 1e-9 * max(lam, 1.0))
    # >= 0, not > 0: an all-zero embedding cloud legitimately has
    # lambda = 0 and must still satisfy the bound (PSD: 0 <= lam <= tr)
    eig_bounded = bool(0.0 <= lam <= float(trace_q) * (1.0 + 1e-12) + 1e-12)
    return spark.createDataFrame(
        [(int(n_vecs), trace_q, resid_ok, eig_bounded)],
        "n_vecs BIGINT, trace_q BIGINT, resid_ok BOOLEAN, eig_bounded BOOLEAN",
    )
