"""Deduplication operators (E30–E31): exact, keyed keep-first,
n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Scale design (the whole point of these ops is the 100 TB corpus):

- **Exact / keyed**: one hash-shuffle on the fingerprint; map-side
  partial aggregation makes the shuffle proportional to distinct keys.
- **MinHash+LSH**: per-doc signature is a narrow pass (explode +
  groupBy doc); candidate generation joins on (band_idx, band_hash) so
  the shuffle carries ~b rows per doc, never O(n²) pairs. Only
  candidate pairs (hash-colliding, i.e. likely-similar) are verified
  with exact Jaccard. This is the standard shingle→minhash→band→bucket
  pipeline (Broder; see also Spark ML MinHashLSH), built here from
  deterministic md5-based hashes so any engine reproduces it exactly.
- **Exact n-gram Jaccard**: the verification primitive; as a standalone
  all-pairs op it's quadratic in docs-per-shingle-bucket — correct at
  test scale, superseded by LSH at corpus scale.
- **SimHash**: 16-bit deterministic simhash over tokens; near-dup
  candidates share the exact simhash (Hamming-0 buckets; wider Hamming
  radii via bit-band joins).
- **Embedding cosine**: label-blocked (IVF-cell) pair join — compares
  only within a coarse cluster, the standard trick to avoid the n²
  cross join.

All hashing is md5-derived => engine-agnostic and seed-free
deterministic, so every operator here is oracle-verifiable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.vectors import vec_cosine
from .checkpointing import iter_checkpoint
from .text import fingerprint_exact, shingles


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup via normalized-text fingerprint. Returns every row with
    its group's keeper (min id) and dup flag — callers filter
    ``is_dup == 0`` to materialize the deduplicated corpus."""
    fp = df.select(F.col(id_col), fingerprint_exact(text_col).alias("fp"))
    w = W.partitionBy("fp").orderBy(id_col)
    return fp.select(
        id_col,
        "fp",
        F.min(id_col).over(W.partitionBy("fp")).alias("keeper_id"),
        F.count(F.lit(1)).over(W.partitionBy("fp")).alias("group_size"),
        (F.row_number().over(w) > 1).cast("int").alias("is_dup"),
    )


def keyed_keep_first(df: DataFrame, key_cols: list[str], order_cols: list) -> DataFrame:
    """Keep the first row per key under a total order (E30)."""
    w = W.partitionBy(*key_cols).orderBy(*order_cols)
    return df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")


def keep_best(
    members: DataFrame,
    unit_col: str = "unit",
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware retention core (E31): flag each unit's best member.

    The retention key is PLUGGABLE — ``score_col`` is whatever "best"
    means for the corpus (document length, a calibrated quality score,
    an LM perplexity percentile); ties break to the smallest id, so the
    winner is total and engine-deterministic. Returns ``members`` with
    an appended ``kept`` int flag (1 = the unit's winner).

    Scale shape: the winner per unit is a ``max_by(id, (score, -id))``
    AGGREGATE, not a unit-partitioned window — max_by is
    partial-aggregable, so even a degenerate boilerplate mega-cluster
    (near-dup components are usually radius-bounded, but one template
    repeated across the corpus is not) collapses map-side instead of
    funneling through one window-sort task. One unit-keyed shuffle for
    the winners plus the join back; the winners relation is
    |units|-sized and AQE broadcasts it while it fits.
    """
    winners = members.groupBy(unit_col).agg(
        F.max_by(
            id_col,
            F.struct(F.col(score_col), (-F.col(id_col)).alias("__nid")),
        ).alias("__best")
    )
    return (
        members.join(winners, unit_col)
        .withColumn("kept", (F.col(id_col) == F.col("__best")).cast("int"))
        .drop("__best")
    )


def _spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition to cluster parallelism before a fan-out (explode/pair
    join). Small inputs arrive as one parquet split; the rows they
    EXPLODE into are not small — without this the fan-out runs on one
    core. (At 100 TB the scan is already thousands of splits and this
    shuffle is proportionally free.)"""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *cols) if cols else df.repartition(n)


def _doc_shingles(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    return _spread(df, id_col).select(
        F.col(id_col).alias("doc_id"), F.explode(shingles(text_col, k)).alias("sg")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """All-pairs exact k-gram Jaccard >= threshold (d1 < d2).

    Pair generation via shingle equi-join + group count — no cross
    join; cost is sum over shingles of (docs sharing it)². Use
    :func:`minhash_lsh_pairs` when that bucket fan-out is too hot.
    """
    # persisted: the size aggregate and BOTH self-join sides consume
    # the shingle relation; without this the corpus is re-shingled
    # three more times (4 source scans measured before persisting)
    from pyspark.storagelevel import StorageLevel

    ex = _doc_shingles(df, id_col, text_col, k).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sg"))
    a = ex.alias("a")
    b = ex.alias("b")
    inter = (
        a.join(b, (F.col("a.sg") == F.col("b.sg")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n_sg").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n_sg").alias("n2"))
    # No broadcast hint on sizes: it is O(corpus docs) — at billions of
    # docs a forced build-side broadcast OOMs the driver (r5 verdict).
    # Unhinted, AQE broadcasts the genuinely small side (`inter`, the
    # co-shingled pair set) and the sizes relation streams.
    return (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("d1", "d2", "inter", "n1", "n2", "jaccard")
    )


#: largest prime < 2^48; 48-bit hash halves keep i*h2 within int64.
MINHASH_PRIME = 281474976710597


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 12,
) -> DataFrame:
    """Deterministic MinHash via Carter–Wegman universal hashing:
    ONE md5 per shingle yields two 48-bit halves (h1, h2); hash_i =
    (h1 + i*h2) mod P. Output: (doc_id, mh_0..mh_{n-1}) bigints.

    One cryptographic hash amortized over all signature slots — ~12×
    less hashing than md5-per-slot — while staying engine-reproducible
    (the oracle derives the identical integers from the same md5 hex)."""
    ex = _doc_shingles(df, id_col, text_col, k)
    h = F.md5(F.col("sg"))
    hashed = ex.select(
        "doc_id",
        F.conv(F.substring(h, 1, 12), 16, 10).cast("bigint").alias("h1"),
        F.conv(F.substring(h, 13, 12), 16, 10).cast("bigint").alias("h2"),
    )
    aggs = [
        F.min((F.col("h1") + F.lit(i) * F.col("h2")) % F.lit(MINHASH_PRIME)).alias(
            f"mh_{i}"
        )
        for i in range(num_hashes)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash banding: docs agreeing on any band (rows_per_band
    signature slots) become candidates; candidates are verified with
    exact Jaccard. Returns (d1, d2, jaccard) with d1 < d2.

    With r = num_hashes/bands rows per band, collision prob for
    similarity s is 1-(1-s^r)^bands — at r=3,b=4: s=0.9 -> 0.99,
    s=0.3 -> 0.10. The candidate join shuffles only (band_id, hash)
    keys: linear in corpus size.

    The hashed-shingle relation (doc_id, h1, h2) is persisted
    ``MEMORY_AND_DISK``, once per call, and the persist outlives the
    call: the returned pairs are lazy and still read it (signatures
    and candidate verification). It is released by the session's
    ``spark.catalog.clearCache()``, or by an unpersist once the
    caller's own action (e.g. a collect of the pairs) has run.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}) — "
            "a remainder would silently drop signature slots"
        )
    rows_per_band = num_hashes // bands
    # Hash each shingle ONCE into its two 48-bit md5 halves and persist
    # that narrow (doc_id, h1, h2) relation: it feeds two consumers
    # (signatures with per-doc set sizes, candidate verification) and
    # the md5+conv per shingle is the chain's dominant per-row cost.
    # ReuseExchange only dedups the shuffle WITHIN one stage graph;
    # persisting dedups the hashing itself across both (measured
    # 3.0s -> 1.7s at sf0.1, warm min-of-2, with three consumers).
    from pyspark.storagelevel import StorageLevel

    ex = _doc_shingles(df, id_col, text_col, k)
    h = F.md5(F.col("sg"))
    hashed = ex.select(
        "doc_id",
        F.conv(F.substring(h, 1, 12), 16, 10).cast("bigint").alias("h1"),
        F.conv(F.substring(h, 13, 12), 16, 10).cast("bigint").alias("h2"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    aggs = [
        F.min((F.col("h1") + F.lit(i) * F.col("h2")) % F.lit(MINHASH_PRIME)).alias(
            f"mh_{i}"
        )
        for i in range(num_hashes)
    ]
    # The per-doc shingle-set size rides the signature aggregate and
    # travels with each doc through the band buckets, so verification
    # needs no second doc_id aggregate and no size joins.
    sigs = hashed.groupBy("doc_id").agg(
        *aggs, F.count(F.lit(1)).alias("n_sg")
    )
    band_cols = []
    for b in range(bands):
        slot = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        # The bucket key only needs band-signature equality, not a
        # cross-engine-reproducible hash: a struct of the raw slot
        # values collides exactly when the band signatures agree, and
        # skips an md5+concat per (doc, band).
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.struct(
                    *[s.alias(f"s{r}") for r, s in enumerate(slot)]
                ).alias("bh"),
            )
        )
    banded = sigs.select(
        "doc_id", "n_sg", F.explode(F.array(*band_cols)).alias("bb")
    ).select(
        F.struct("doc_id", "n_sg").alias("m"),
        F.col("bb.band").alias("band"),
        F.col("bb.bh").alias("bh"),
    )
    # Bucket-grouped pair enumeration, NOT a banded-self-join: a self-join
    # would evaluate the whole signature pipeline twice (self-join alias
    # rewriting defeats ReuseExchange — measured 6.3s vs 1.9s at sf0.1)
    # and shuffle it twice. Here the signature relation shuffles ONCE on
    # (band, bh); near-dup buckets are tiny, so in-bucket pair expansion
    # is ~|bucket|² over single-digit buckets. At corpus scale a
    # degenerate hot bucket (e.g. empty docs) is the known hazard — cap
    # it upstream by exact-dedup'ing first (pipeline_clean_corpus does).
    # Members are (doc_id, n_sg) structs: a doc sits in a band's bucket
    # once, so sorting them sorts by doc_id.
    ids = F.array_sort(F.collect_list("m"))
    cand = (
        banded.groupBy("band", "bh")
        .agg(ids.alias("ids"))
        .where(F.size("ids") > 1)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ids",
                        lambda x, i: F.transform(
                            F.slice(
                                "ids", i + 2, F.size(F.col("ids"))
                            ),
                            lambda y: F.struct(
                                x["doc_id"].alias("d1"),
                                y["doc_id"].alias("d2"),
                                x["n_sg"].alias("n1"),
                                y["n_sg"].alias("n2"),
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.d1", "p.d2", "p.n1", "p.n2")
        .distinct()
    )
    # Verify ONLY the candidates: fan each candidate out to d1's shingles
    # and probe d2's shingle set — cost is |cand| × shingles-per-doc, not
    # the all-pairs co-shingle join. Shingle identity is the 96-bit
    # (h1, h2) md5 pair from the persisted relation — set-equivalent to
    # the string (shingles are array_distinct'd; md5 collision-free in
    # practice) and joins on two bigints instead of long strings.
    # NOTE (measured, don't "simplify"): two rewrites benchmarked SLOWER
    # at sf0.1: per-row shingle ARRAYS + array_intersect (nested
    # broadcast builds serialize, 11s), and narrow HOF signatures via
    # zip_with folds (projection collapse re-evaluates the hash arrays
    # per slot, 20s+ vs 3s); un-persisted single-pass was 3.4s.
    e1 = hashed.alias("e1")
    e2 = hashed.alias("e2")
    inter = (
        cand.join(e1, F.col("d1") == F.col("e1.doc_id"))
        .join(
            e2,
            (F.col("d2") == F.col("e2.doc_id"))
            & (F.col("e1.h1") == F.col("e2.h1"))
            & (F.col("e1.h2") == F.col("e2.h2")),
        )
        .groupBy("d1", "d2", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16
) -> DataFrame:
    """Deterministic SimHash over tokens: each distinct token contributes
    ±1 per bit from md5(token); sign of the sum is the bit. Returns
    (doc_id, simhash) with simhash in [0, 2^bits)."""
    from .text import tokens

    ex = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
    ).withColumn("h", F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("bigint"))
    bit_sums = ex.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s_{i}")
            for i in range(bits)
        ]
    )
    sim = F.lit(0).cast("bigint")
    for i in range(bits):
        sim = sim + F.when(F.col(f"s_{i}") > 0, F.lit(1 << i).cast("bigint")).otherwise(0)
    return bit_sums.select("doc_id", sim.alias("simhash"))


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.4,
) -> DataFrame:
    """Cosine near-dup pairs, blocked by a coarse cluster column — the
    IVF-style pruning that replaces the O(n²) cross join at scale. Pairs
    across blocks are (by construction) not compared.

    Vectors are unit-normalized BEFORE the pair join (one fold per row),
    so each pair costs a single dot product."""
    from ..functions.vectors import vec_dot, with_unit_vector

    unit = with_unit_vector(df, vec_col, "__u")
    a = _spread(unit, id_col).select(
        F.col(id_col).alias("v1"),
        F.col(block_col).alias("blk"),
        F.col("__u").alias("u1"),
    )
    b = unit.select(
        F.col(id_col).alias("v2"),
        F.col(block_col).alias("blk"),
        F.col("__u").alias("u2"),
    )
    # No broadcast hint: `b` is the FULL unit-vector relation —
    # O(corpus) build side, a driver OOM at billions of vectors. At
    # test scale AQE re-derives the broadcast (b is tiny), so the few-
    # blocks parallelism cap never bites; at corpus scale the block
    # count is large and this runs as a co-partitioned join on blk.
    return (
        a.join(b, ["blk"])
        .where(F.col("v1") < F.col("v2"))
        .withColumn("cosine", vec_dot("u1", "u2"))
        .where(F.col("cosine") >= threshold)
        .select("blk", "v1", "v2", "cosine")
    )


#: Small-graph gate for :func:`connected_components_star`: a canonical
#: edge set of at most this many edges is collected and union-found on
#: the driver instead of running star rounds (each round is a
#: checkpoint plus a signature action; the collect is one job over
#: the already-materialized edges). Measured at the bound on local[4]
#: (100k random edges over 200k ids): collect 0.52 s, union-find plus
#: the returned frame 0.45 s, against 8.7 s for the star loop on the
#: same graph; the result (<= 200k rows, ~4.8 MB) stays under the
#: default broadcast threshold. Above it the distributed loop runs
#: unchanged; 0 disables the fast path. Re-measure before raising it.
LOCAL_CC_MAX = 100_000


def _components_local(e: DataFrame, rows) -> DataFrame:
    """(doc_id, component) for every endpoint of the collected canonical
    edges, by union-find on the driver. Union-by-min keeps every root
    the minimum of its set, so the root IS the component id the star
    loop converges to. Returned as a pandas-built (Arrow) local relation:
    it carries a real size estimate, so the joins after it broadcast."""
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in rows:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    nodes = list(parent)
    comp = pd.DataFrame({"doc_id": nodes, "component": [find(x) for x in nodes]})
    u = e.schema["u"]
    return e.sparkSession.createDataFrame(
        comp,
        schema=StructType(
            [StructField(c, u.dataType, u.nullable) for c in ("doc_id", "component")]
        ),
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    max_iter: int = 20,
    reliable: bool = False,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14). Returns (doc_id, component) where component = the min
    doc_id of the component, for every endpoint of the pair list — the
    step LSH pair-finding needs to become an actual dedup GROUPING
    (A~B, B~C => {A,B,C} keep one).

    Min-label propagation would move one hop per round, so its round
    count is the graph DIAMETER and a high-degree hub re-sends its whole
    neighborhood every round. The star operations instead rewire the
    edge set itself toward the component minimum:

    - large-star: every node ``u`` connects each LARGER neighbor to
      ``m = min(N(u) + {u})`` — halves long paths (O(log n) rounds);
    - small-star: ``u`` connects its smaller neighbors and itself to
      ``m`` — collapses each neighborhood to a star around its min.

    Each round is two groupBy-min shuffles over the CURRENT edge set,
    which only shrinks; no per-round label join against all nodes.
    Converged state is a forest of stars: every node's single neighbor
    is its component min, oracle-verifiable against a recursive-CTE
    reachability query. Graphs of at most ``LOCAL_CC_MAX`` canonical
    edges skip the rounds: the edges are collected once and union-found
    on the driver (identical labelling). ``reliable=True`` swaps the
    per-round ``localCheckpoint`` for a fault-tolerant ``checkpoint()``
    (see :mod:`.checkpointing`) — the right default for long CC jobs on
    a real cluster, where an executor loss would otherwise kill the
    run.
    """
    orig = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col("u") != F.col("v")
    )
    # Canonical direction larger -> smaller; the star steps preserve it.
    e = iter_checkpoint(
        orig.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")).distinct(),
        reliable=reliable,
    )
    if LOCAL_CC_MAX > 0:
        rows = e.limit(LOCAL_CC_MAX + 1).collect()
        if len(rows) <= LOCAL_CC_MAX:
            return _components_local(e, rows)
    # Node set = endpoints of the CHECKPOINTED canonical edges (u≠v and
    # canonicalization preserve endpoints, so this is exactly the raw
    # pair list's endpoint set). Deriving it from ``e`` instead of
    # ``orig`` means the upstream pair chain (an LSH banding + verify
    # pipeline for every dedup caller) executes ONCE — materializing a
    # separate nodes checkpoint from ``orig`` ran that whole chain a
    # second time. Consumed once (the final left join), so it needs no
    # checkpoint of its own.
    nodes = e.select("u").union(e.select(F.col("v").alias("u"))).distinct()

    def _sig(df: DataFrame):
        # Order-insensitive convergence signature: one tiny aggregate vs
        # an exceptAll (an extra full shuffle) per round. The hash sums
        # accumulate in decimal(38,0): summing raw 64-bit xxhash64 values
        # overflows BIGINT almost surely, which ANSI mode (the Spark 4
        # default) turns into ARITHMETIC_OVERFLOW — only a stable set
        # digest is needed, never wraparound semantics.
        return df.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
            F.sum(F.xxhash64("v", "u").cast("decimal(38,0)")),
        ).first()

    prev = _sig(e)
    for _ in range(max_iter):
        # large-star over symmetric neighborhoods: (v, m) for v > u.
        und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            und.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        # No distinct here (round-13, guide §2.4): both consumers are
        # duplicate-insensitive — mins2 is a MIN aggregate and small's
        # own trailing distinct collapses the join fan-out — so the
        # edge SET (and the round signature, computed after that
        # distinct) is identical while each round pays one less full
        # (u, v) Exchange. The duplicate volume this leaves in flight
        # is exactly what the removed distinct used to shuffle.
        large = (
            und.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        # small-star over the (larger -> smaller) edges: connect each
        # smaller neighbor and u itself to u's minimum.
        mins2 = large.groupBy("u").agg(F.min("v").alias("mn"))
        small = (
            large.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .union(mins2.select("u", F.col("mn").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        small = iter_checkpoint(small, reliable=reliable)
        cur = _sig(small)
        e = small
        if cur == prev:
            break
        prev = cur
    mapping = e.groupBy("u").agg(F.min("v").alias("component"))
    return nodes.join(mapping, nodes["u"] == mapping["u"], "left").select(
        nodes["u"].alias("doc_id"),
        F.coalesce("component", nodes["u"]).alias("component"),
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 2,
) -> DataFrame:
    """Near-dup pairs within a Hamming radius of the simhash.

    Bit-band LSH: the b-bit signature splits into ``bands`` equal
    slices; by pigeonhole any pair with hamming <= bands-1 agrees on at
    least one slice, so the candidate join is an equi-join on
    (band, slice-value) — linear shuffle, no all-pairs compare.
    Candidates are verified with an exact popcount of the XOR.
    Returns (d1, d2, hamming), d1 < d2, hamming <= max_hamming."""
    if max_hamming >= bands:
        raise ValueError("pigeonhole guarantee needs max_hamming < bands")
    sigs = simhash(df, id_col, text_col, bits)
    w = bits // bands
    mask = (1 << w) - 1
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * w)
                .bitwiseAND(F.lit(mask))
                .alias("bv"),
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select(
        "doc_id", "simhash", F.explode(band_arr).alias("bb")
    ).select("doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bv").alias("bv"))
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("a.simhash").alias("s1"),
            F.col("b.doc_id").alias("d2"),
            F.col("b.simhash").alias("s2"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )


def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iters: int = 2,
    threshold: float = 0.4,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): k-means the
    embedding space, find cosine near-dup pairs ONLY within each learned
    cluster, group them into duplicate components, and from each
    component keep the single member LEAST similar to its cluster
    centroid (the paper's keep rule — the retained example is the most
    "informative" one, farthest from the semantic mode).

    Returns one row per vector that belongs to a duplicate component:
    (vid, cid, component, cent_sim, kept). Vectors with no near-dup are
    untouched (implicitly kept) and not emitted.

    Scale shape: the quantizer trains on broadcast-centroid passes and
    returns its k centroids as a literal list (see
    ``operators/clustering.py``); the pair search is blocked by learned
    cell — at corpus scale each cell is a co-partitioned self-join, so
    the O(n²) cross join never materializes; components run over the
    (tiny) pair graph only. This is exactly how SemDeDup runs on
    billion-document corpora: clustering cost is linear, pairing cost is
    sum of per-cell squares, both embarrassingly partitionable."""
    from pyspark.sql.window import Window as W

    from ..functions.vectors import as_double_array, vec_divide, vec_dot
    from .clustering import _own_centroid, kmeans_assign, kmeans_centroids

    e = df.select(F.col(id_col).alias("vid"), as_double_array(vec_col).alias("v"))
    cent = kmeans_centroids(df, id_col, vec_col, k=k, iters=iters)
    assigned = kmeans_assign(e, cent)
    nrm = F.sqrt(vec_dot("v", "v"))
    unit = assigned.withColumn("u", vec_divide("v", nrm)).select("vid", "cid", "u")
    # Similarity of each member to its own (unit-normalized) centroid.
    # One row per vector (id, cell, unit vec, centroid sim) — consumed
    # by the pair join twice, the components loop, and the keep rule.
    # Checkpoint it so the assign + normalize pass executes ONCE.
    c = _own_centroid(cent)
    with_sim = unit.withColumn(
        "cent_sim", vec_dot("u", c) / F.sqrt(vec_dot(c, c))
    ).localCheckpoint(eager=True)
    a = _spread(with_sim, "vid").select(
        "cid", F.col("vid").alias("v1"), F.col("u").alias("u1")
    )
    b = with_sim.select("cid", F.col("vid").alias("v2"), F.col("u").alias("u2"))
    # Unhinted: `b` carries every unit vector (O(corpus)); the cid
    # equi-join co-partitions at scale, AQE broadcasts when tiny.
    pairs = (
        a.join(b, "cid")
        .where(F.col("v1") < F.col("v2"))
        .where(vec_dot("u1", "u2") >= threshold)
        .select("v1", "v2")
    )
    comp = connected_components_star(pairs, "v1", "v2")
    member = comp.join(
        with_sim, comp["doc_id"] == with_sim["vid"]
    ).select("vid", "cid", "component", "cent_sim")
    w = W.partitionBy("component").orderBy("cent_sim", "vid")
    return (
        member.withColumn("rn", F.row_number().over(w))
        .select(
            "vid", "cid", "component", "cent_sim", (F.col("rn") == 1).alias("kept")
        )
        .orderBy("vid")
    )


def remove_repeated_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 20,
) -> DataFrame:
    """Repeated-passage REMOVAL with document rewriting (the RefinedWeb
    / MassiveText cleanup step): chunk every document into fixed
    ``chunk_tokens``-token passages, keep only the corpus-wide FIRST
    occurrence of each distinct passage (ordered by doc id, then chunk
    position), and reassemble each document from its surviving chunks in
    order. Unlike span-level *flagging* (``text_span_dedup``), this
    rewrites the text.

    Returns (doc_id, n_chunks, n_kept_chunks, new_text); a document
    whose every chunk duplicates earlier text survives with new_text ''.

    Scale shape: one explode (linear in corpus tokens), one shuffle on
    the chunk hash for the global first-occurrence window, one shuffle
    back on doc id for reassembly — both keyed shuffles linear in chunk
    count; chunks travel as 16-byte md5 keys plus their text once."""
    from pyspark.sql.window import Window as W

    from .text import tokens

    toks = tokens(text_col)
    n_chunks = F.ceil(F.size(toks) / F.lit(float(chunk_tokens))).cast("bigint")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("toks"),
        n_chunks.alias("n_chunks"),
    )
    chunks = base.select(
        "doc_id",
        "n_chunks",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (F.col("n_chunks") - 1).cast("int")),
                lambda i: F.array_join(
                    F.slice("toks", i * chunk_tokens + 1, chunk_tokens), " "
                ),
            )
        ).alias("idx", "chunk"),
    )
    w = W.partitionBy(F.md5("chunk")).orderBy("doc_id", "idx")
    kept = (
        chunks.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept_chunks"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "chunk"))),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("new_text"),
        )
    )
    return (
        base.select("doc_id", "n_chunks")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks",
            F.coalesce("n_kept_chunks", F.lit(0)).alias("n_kept_chunks"),
            F.coalesce("new_text", F.lit("")).alias("new_text"),
        )
        .orderBy("doc_id")
    )


def srp_signs(bits: int = 16, dims: int = 64) -> list[list[float]]:
    """Deterministic Rademacher (+-1) hyperplanes for sign-random-
    projection LSH, derived from md5 so Spark, the DuckDB oracle, and
    any future engine inject the IDENTICAL constants — no RNG, no
    seed-state drift. Tiny (bits x dims), computed driver-side once."""
    import hashlib

    out = []
    for j in range(bits):
        row = []
        for d in range(dims):
            h = int(hashlib.md5(f"srp|{j}|{d}".encode()).hexdigest()[:12], 16)
            row.append(1.0 if h < (1 << 47) else -1.0)
        out.append(row)
    return out


def srp_lsh_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 16,
    bands: int = 4,
    threshold: float = 0.4,
) -> DataFrame:
    """Cosine near-dup pairs via sign-random-projection LSH (Charikar
    2002): each unit vector sketches to ``bits`` sign bits of dot
    products against fixed Rademacher hyperplanes; vectors sharing ANY
    ``bits/bands``-bit band become candidates; candidates verify by
    exact cosine >= threshold.

    The embedding-space sibling of MinHash (sets) and SimHash (token
    bags): P(bit match) = 1 - angle/pi, so banding concentrates
    near-duplicates into shared buckets. Scale shape identical to the
    text LSH: sketching is one narrow pass (bits x dims multiply-adds
    per row), the band join shuffles (band, key) pairs — linear in the
    corpus — and only hash-colliding candidates pay the exact-cosine
    verification. No label/cluster column needed (contrast
    ``embedding_near_dup_pairs``, which requires a precomputed
    blocking column)."""
    from ..functions.vectors import vec_dot, with_unit_vector

    if bits % bands:
        raise ValueError(f"bits={bits} not divisible by bands={bands}")
    r = bits // bands
    dims = _first_dim(df, vec_col)
    if dims <= 0:
        # Empty relation or NULL first vector: no pairs — return an
        # empty frame with the contract schema instead of building
        # zero-dim hyperplanes (or crashing on first()==None).
        id_type = df.schema[id_col].dataType.simpleString()
        return df.sparkSession.createDataFrame(
            [], f"v1 {id_type}, v2 {id_type}, cosine double"
        )
    signs = srp_signs(bits, dims)

    unit = with_unit_vector(df, vec_col, "__u").select(
        F.col(id_col).alias("vid"), "__u"
    )
    bit_cols = [
        (
            F.aggregate(
                F.zip_with(
                    "__u",
                    F.array(*[F.lit(s) for s in signs[j]]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            > 0
        ).cast("int")
        for j in range(bits)
    ]
    sk = F.lit(0)
    for j in range(bits):
        sk = sk + bit_cols[j] * F.lit(1 << j)
    sketched = unit.select("vid", "__u", sk.alias("sketch"))
    from pyspark.storagelevel import StorageLevel

    sketched = sketched.persist(StorageLevel.MEMORY_AND_DISK)
    mask = (1 << r) - 1
    banded = sketched.select(
        "vid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sketch", b * r)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("vid", "bk.band", "bk.key")
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "key"])
        .where(F.col("a.vid") < F.col("b.vid"))
        .select(F.col("a.vid").alias("v1"), F.col("b.vid").alias("v2"))
        .distinct()
    )
    u1 = sketched.select(F.col("vid").alias("v1"), F.col("__u").alias("u1"))
    u2 = sketched.select(F.col("vid").alias("v2"), F.col("__u").alias("u2"))
    return (
        cand.join(u1, "v1")
        .join(u2, "v2")
        .withColumn("cosine", vec_dot("u1", "u2"))
        .where(F.col("cosine") >= threshold)
        .select("v1", "v2", "cosine")
    )


def _first_dim(df: DataFrame, vec_col: str) -> int:
    """Vector dimensionality from the first NON-NULL, non-empty vector
    (driver-side, once). Returns 0 only when NO such vector exists —
    probing the physically-first row instead would silently return an
    empty result for a whole dataset whenever a NULL row happens to
    land first in partition order."""
    row = (
        df.select(F.size(vec_col).alias("n"))
        .where(F.col("n") > 0)
        .first()
    )
    if row is None or row["n"] is None:
        return 0
    return max(int(row["n"]), 0)


def shingle_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT pairs: C(A in B) = |A∩B| / |A|.

    Jaccard misses subset duplication — a short document wholly quoted
    inside a long one scores |A|/|B| ≈ 0 on Jaccard but 1.0 on
    containment. This is the Broder containment measure used for
    quote/boilerplate/sub-document detection. Same pair-generation
    shape as :func:`ngram_jaccard_pairs` (shingle equi-join + group
    count — never a cross join); only the normalization differs, so
    the scale profile is identical."""
    # persisted: the size aggregate and BOTH self-join sides consume
    # the shingle relation; without this the corpus is re-shingled
    # three more times (4 source scans measured before persisting)
    from pyspark.storagelevel import StorageLevel

    ex = _doc_shingles(df, id_col, text_col, k).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sg"))
    a = ex.alias("a")
    b = ex.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sg") == F.col("b.sg"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n_sg").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n_sg").alias("n2"))
    c1 = F.col("inter").cast("double") / F.col("n1")
    c2 = F.col("inter").cast("double") / F.col("n2")
    # Unhinted sizes joins (O(corpus) build side = driver OOM at
    # billions of docs); AQE broadcasts the small `inter` side instead.
    return (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("c1_in_2", c1)
        .withColumn("c2_in_1", c2)
        .withColumn("containment", F.greatest(c1, c2))
        .where(F.col("containment") >= threshold)
        .select("d1", "d2", "inter", "n1", "n2", "c1_in_2", "c2_in_1", "containment")
    )
