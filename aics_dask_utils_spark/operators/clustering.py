"""Deterministic distributed k-means (the IVF-cell trainer).

Lloyd iterations expressed as pure DataFrame algebra so every step is
engine-reproducible and the whole algorithm sits under the DuckDB
hash-check (see ``plans/clustering.py``):

- init: centroids = the k lowest-id vectors (seed-free, deterministic);
- assignment: dist²(v,c) = ⟨v,v⟩ − 2⟨v,c⟩ + ⟨c,c⟩ — three sequential
  dot-product folds, identical on any engine; ties broken by centroid
  id via a (dist2, cid) row_number;
- update: per-dimension mean via posexplode + exact DECIMAL(30,12)
  sums (order-independent), repacked with a sorted collect.

Scale shape: assignment is a broadcast cross join (k centroids are KBs)
+ one narrow pass over the vectors; the update shuffles (k × dims)
groups. The loop is lazy plans; the trained k×d centroids come back to
the driver once, as a plain ``[(cid, c)]`` list (KBs by contract), and
every consumer ships them as a literal. At real scale you'd run this
over an IVF sample; the loop skeleton is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import as_double_array, vec_dot


#: Driver-side-training gate (r12 ADVICE): the ``train_limit`` bounded
#: paths collect the sample and run pure-Python Lloyd on the driver —
#: a clear win for the few-hundred-row samples the plans use, but the
#: same knob is documented as the FAISS ~1M-vector recipe, where the
#: collect is GBs of Python objects and the local loop is ~10^10 ops.
#: Above this row bound the bounded sample keeps training in the
#: RETAINED distributed Lloyd loop instead. Both trainers return the
#: same values bit for bit, NaN/±Inf components included —
#: ``test_trainer_gate_is_value_identical`` in tests/test_ann_recall.py
#: pins it for k-means, PQ and IVFADC. 4096 rows x 64 dims collects
#: ~2 MB and local-trains in well under a second; scale the bound only
#: with a measurement.
LOCAL_TRAIN_MAX = 4096

#: A trained centroid set: ``[(cid, c)]``, k×d doubles (KBs).
Centroids = list[tuple[int, list[float]]]


def _centroid_candidates(cent: DataFrame) -> DataFrame:
    """Collapse the (cid, c) centroid relation of a running Lloyd loop
    into ONE row holding the candidate array [(cid, c, cc)] with
    cc = ⟨c,c⟩ precomputed — the loop's broadcast build side for
    :func:`_assign`."""
    return cent.agg(
        F.collect_list(
            F.struct("cid", "c", vec_dot("c", "c").alias("cc"))
        ).alias("cands")
    )


def _dot_local(a, b) -> float | None:
    """Left-fold dot product — the same IEEE multiply-add order as
    :func:`..functions.vectors.vec_dot`'s aggregate fold, so a value
    computed here is bit-identical to the engine's. A NULL (``None``)
    component makes the whole fold NULL, as it does in the engine."""
    acc = 0.0
    try:
        for x, y in zip(a, b):
            acc = acc + x * y
    except TypeError:  # None * float
        return None
    return acc


def _nearest_local(v, cands) -> int | None:
    """Driver-side argmin over ``cands`` = [(cid, c, cc)]: the cid the
    engine's ``array_min`` over (dist2, cid) structs picks. dist² is
    the same ⟨v,v⟩ − 2·⟨v,c⟩ + ⟨c,c⟩ left-fold arithmetic; the key is
    the engine's struct ordering — NULL dist² first, NaN greatest
    (NaN == NaN), ties by cid. (A bare (d2, cid) tuple gets both wrong:
    every NaN comparison is False in Python.) ``None`` when there are
    no candidates."""
    vv = _dot_local(v, v)
    best = None
    for cid, c, cc in cands:
        dot = _dot_local(v, c)
        if vv is None or dot is None or cc is None:
            key = (-1, 0.0, cid)
        else:
            d2 = vv - 2.0 * dot + cc
            key = (1, 0.0, cid) if d2 != d2 else (0, d2, cid)
        if best is None or key < best:
            best = key
    return None if best is None else best[2]


def _local_candidate_expr(rows: Centroids):
    """The [(cid, c, cc)] candidate array of trained centroids as ONE
    folded LITERAL — same struct schema :func:`_centroid_candidates`
    builds; ``cc`` is the local left-fold dot (bit-identical doubles,
    see :func:`_dot_local`).

    Delivery is ``from_json`` on a literal STRING: ``from_json`` of a
    foldable input is foldable, so ConstantFolding collapses the whole
    thing into a single array Literal before codegen — one reference
    object, no jobs, no BroadcastExchange per consumer. (A naive
    ``F.lit(list)`` builds array(lit, lit, …) — thousands of Column
    objects through py4j and a giant tree through every analyzer /
    optimizer pass: measured 1.7 s per construction for a 16×16×4
    codebook vs 0.08 s this way.) Doubles round-trip exactly: Python
    ``repr`` emits shortest round-trip digits and Jackson parses
    correctly rounded. The k-centroid relation is KBs by contract."""
    import json

    payload = json.dumps(
        [
            {"cid": int(cid), "c": _json_doubles(c), "cc": _dot_local(c, c)}
            for cid, c in rows
        ]
    )
    return F.from_json(
        F.lit(payload), "array<struct<cid:bigint,c:array<double>,cc:double>>"
    )


def _json_doubles(c: list) -> list:
    """A centroid's components for the JSON literal: floats, with NULL
    components kept as ``None`` (JSON null). ``json.dumps`` writes
    NaN/±Inf as ``NaN``/``Infinity``/``-Infinity``, which ``from_json``
    reads back (``allowNonNumericNumbers`` is on by default)."""
    return [None if x is None else float(x) for x in c]


def _own_centroid(rows: Centroids):
    """Each row's own centroid ``c[cid]``, fetched with
    ``element_at`` from a {cid -> c} folded literal MAP — zero jobs,
    same doubles as a join against the centroids. Same foldable
    from_json delivery as :func:`_local_candidate_expr`
    (map_from_entries of a foldable array is itself foldable)."""
    import json

    payload = json.dumps(
        [{"key": int(cid), "value": _json_doubles(c)} for cid, c in rows]
    )
    cmap = F.map_from_entries(
        F.from_json(
            F.lit(payload), "array<struct<key:bigint,value:array<double>>>"
        )
    )
    return F.element_at(cmap, F.col("cid"))


def _local_candidates_rel(spark, rows: Centroids):
    """ONE-ROW LocalRelation holding the literal candidate array — the
    broadcast build side for trained centroids. VALUES(1) + a foldable
    projection optimizes to a LocalRelation, so the BroadcastExchange
    materializes driver-side with no upstream query (a build side over
    a centroid relation runs an aggregate job per consumer). Why a
    broadcast JOIN instead of putting :func:`_local_candidate_expr`
    straight into the consumer's projection: the join is a
    CollapseProject BOUNDARY, so the streamed side's derived array
    columns (unit vectors, residuals) stay materialized once per row —
    inlined into the per-candidate argmin lambda they re-evaluate per
    candidate (measured 4× the norm fold per row, ~2.5× the assignment
    pass)."""
    return spark.sql("VALUES (1)").select(
        _local_candidate_expr(rows).alias("cands")
    )


def _scored_struct_array(
    v_col: str = "v", cands_col: str = "cands", vv_col: str | None = None
):
    """(dist2, cid) struct per candidate, dist² by the same three-fold
    identity the row-per-candidate formulation used — bit-identical
    doubles, so argmin/ordering decisions are unchanged. Pass a
    pre-computed ⟨v,v⟩ column via ``vv_col`` so the self-dot folds
    once per row instead of once per candidate (same value, same
    bits)."""
    vv = F.col(vv_col) if vv_col is not None else vec_dot(v_col, v_col)
    return F.transform(
        F.col(cands_col),
        lambda x: F.struct(
            (vv - F.lit(2.0) * vec_dot(v_col, x["c"]) + x["cc"]).alias(
                "dist2"
            ),
            x["cid"].alias("cid"),
        ),
    )


#: Memoized spread decisions, keyed on (Spark application id, semantic
#: plan hash): ``df.rdd`` forces physical planning (~50 ms per fresh
#: DataFrame, 2-3 calls per hybrid plan construction — r12 ADVICE), so
#: the partition count of a semantically identical plan is computed
#: once per application. The application id, unlike ``id(session)``,
#: is never reused after a session restart, so a recycled object id
#: cannot return another application's count. The cached value is a
#: PERFORMANCE hint only —
#: results never depend on partitioning — so a stale entry (files
#: changed under the same plan) can cost a repartition, never a wrong
#: row. Bounded: cleared wholesale if it ever grows past 256 plans.
_SPREAD_CACHE: dict[tuple[str, int], int] = {}


def spread_to_cores(df: DataFrame) -> DataFrame:
    """Round-robin repartition to ``defaultParallelism`` — ONLY when
    the relation arrives with fewer partitions (guide §2.5 "input
    skew": a small input read as one parquet split serializes every
    downstream expression pass onto one task; the round-12
    expression-level assignment/encode passes no longer have an
    incidental shuffle to spread them). At real scale the scan yields
    >= cores splits and this is a NO-OP — no shuffle is added at the
    100 TB design point; results never depend on partitioning."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    key = (sc.applicationId, df.semanticHash())
    got = _SPREAD_CACHE.get(key)
    if got is None:
        if len(_SPREAD_CACHE) > 256:
            _SPREAD_CACHE.clear()
        got = df.rdd.getNumPartitions()
        _SPREAD_CACHE[key] = got
    if got < n:
        return df.repartition(n)
    return df


def _scored_candidates(e: DataFrame, cands_rel: DataFrame) -> DataFrame:
    """(vid, v) rows spread to core count (see :func:`spread_to_cores`
    — a no-op at scale), each carrying ⟨v,v⟩ as ``_vv`` and the
    broadcast one-row candidate array ``cands``."""
    return (
        spread_to_cores(e)
        .withColumn("_vv", vec_dot("v", "v"))
        .crossJoin(F.broadcast(cands_rel))
    )


def _assign(e: DataFrame, cands_rel: DataFrame) -> DataFrame:
    """The one nearest-centroid assignment body, shared by the Lloyd
    loop (``cands_rel`` = :func:`_centroid_candidates` of the running
    centroid relation) and :func:`kmeans_assign` (``cands_rel`` =
    :func:`_local_candidates_rel` of the trained centroids).

    Round-12 shape (guide §2.3/§2.4): the argmin is a
    whole-stage-codegen ``array_min`` over (dist2, cid) structs —
    struct ordering IS the old ``row_number().over(orderBy(dist2,
    cid))`` tie-break, NaNs greatest, so the selected cid is
    bit-identical. The previous formulation exploded k rows per vector
    and paid an Exchange + Sort + Window per assignment pass; this one
    never shuffles at all — at 100 TB each Lloyd round's assignment
    was a full-corpus-×-k shuffle, now zero."""
    best = F.array_min(_scored_struct_array(vv_col="_vv"))
    return (
        _scored_candidates(e, cands_rel)
        .select("vid", "v", best["cid"].alias("cid"))
        .where(F.col("cid").isNotNull())
    )


def kmeans_assign(e: DataFrame, cent: Centroids) -> DataFrame:
    """Nearest-centroid assignment: (vid, v) × trained ``[(cid, c)]``
    -> (vid, v, cid). Ties break to the lowest cid. The candidate array
    ships as a literal one-row broadcast (:func:`_local_candidates_rel`
    — no jobs); the pass itself is :func:`_assign`."""
    return _assign(e, _local_candidates_rel(e.sparkSession, cent))


def kmeans_assign_topn(e: DataFrame, cent: Centroids, n: int = 2) -> DataFrame:
    """Top-n nearest centroids per vector: (vid, v, cid, probe_rank)
    with probe_rank 1..n. The multi-probe half of an IVF index —
    probing the runner-up cell recovers the neighbors a hard
    single-cell assignment loses at cell boundaries (recall climbs at
    the cost of n× probe fan-out; the corpus itself stays
    single-assigned). Carries ``v`` through so probe-side consumers
    (semantic_screen_ivf's probed corpus) don't need a vid self-join
    to recover the vector.

    Same expression-level formulation as :func:`_assign`:
    ``array_sort`` over (dist2, cid) structs is exactly the old
    window's (dist2, cid) order (NaNs greatest), the first ``n`` slots
    explode to probe_rank 1..n — no Exchange, no Sort, no Window."""
    scored = _scored_candidates(e, _local_candidates_rel(e.sparkSession, cent))
    ranked = F.slice(F.array_sort(_scored_struct_array(vv_col="_vv")), 1, n)
    return scored.select(
        "vid", "v", F.posexplode(ranked).alias("pos", "sc")
    ).select(
        "vid",
        "v",
        F.col("sc")["cid"].alias("cid"),
        (F.col("pos") + 1).alias("probe_rank"),
    )


def _lloyd_local(
    rows: list[tuple[int, list[float]]], k: int, iters: int
) -> Centroids:
    """Driver-side Lloyd over a BOUNDED sample, bit-identical to the
    distributed loop (``kmeans_centroids`` / ``_pq_train``) — the
    round-12 trainer for the ``train_limit`` paths. FAISS trains
    quantizers centrally on a bounded sample; here the sample is
    ≤ train_limit rows BY CONSTRUCTION (a few hundred KB), so the
    driver does O(sample·k·iters) arithmetic once per plan — while the
    distributed loop paid ~3 s of job/stage machinery per trainer at
    any scale (measured sf0.1: 2 Lloyd rounds over 512 vectors = 3.0 s
    wall with zero data volume). Exactness, step by step:

    - seeds: vids < k, ascending (same rows as the WHERE vid < k seed);
    - assignment: :func:`_nearest_local` — the engine's dist² folds
      and its (dist2, cid) struct ordering;
    - mean = ROUND(CAST(SUM(CAST(x AS DECIMAL(30,12))) AS DOUBLE)/n, 9):
      Spark's double→decimal cast goes through Double.toString (the
      shortest round-trip repr — Python ``repr`` produces the same
      digits), HALF_UP at 12 dp (``Decimal.quantize(1E-12, HALF_UP)``);
      decimal sums are exact in any order; decimal→double is correctly
      rounded on both sides (``BigDecimal.doubleValue`` /
      ``float(Decimal)``); ROUND(x, 9) is BigDecimal.valueOf(x) —
      Double.toString again — setScale(9, HALF_UP), i.e.
      ``Decimal(repr(x)).quantize(1E-9, HALF_UP)``;
    - non-finite components: the cast turns NaN, ±Inf (and NULL) into
      NULL — Spark does so even with ANSI on — so SUM skips them while
      COUNT(1) still counts the row, and a dimension with no finite
      value averages to NULL (``None`` here). NULL components then
      propagate through the dot folds as in the engine.

    ``test_trainer_gate_is_value_identical`` in tests/test_ann_recall.py
    pins the equivalence against the distributed loop; every consumer
    plan stays oracle-hash-verified."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    q12 = Decimal("1E-12")
    q9 = Decimal("1E-9")

    def dec12(x):
        if x is None or not math.isfinite(x):
            return None
        return Decimal(repr(x)).quantize(q12, ROUND_HALF_UP)

    def mean9(total, n):
        if total is None:
            return None
        return float(Decimal(repr(float(total) / n)).quantize(q9, ROUND_HALF_UP))

    cent = [(vid, list(v)) for vid, v in rows if vid < k]
    for _ in range(iters):
        cands = [(cid, c, _dot_local(c, c)) for cid, c in cent]
        agg: dict[int, list] = {}
        for _vid, v in rows:
            cid = _nearest_local(v, cands)
            if cid is None:
                continue
            slot = agg.setdefault(cid, [0, [None] * len(v)])
            slot[0] += 1
            sums = slot[1]
            for i, x in enumerate(v):
                dx = dec12(x)
                if dx is not None:
                    sums[i] = dx if sums[i] is None else sums[i] + dx
        cent = [
            (cid, [mean9(t, n) for t in sums])
            for cid, (n, sums) in sorted(agg.items())
        ]
    return cent


def _collect_vectors(df: DataFrame) -> list[tuple]:
    """Collect a small relation whose LAST column is a vector as
    ``(key..., [doubles])`` tuples sorted by the key columns — one job.
    Used for bounded training samples (callers gate on
    ``LOCAL_TRAIN_MAX``) and for the k×d trained centroids."""
    return sorted(
        (tuple(r[:-1]) + (list(r[-1]),) for r in df.collect()),
        key=lambda t: t[:-1],
    )


def _recompute_centroids(assign: DataFrame) -> DataFrame:
    dim_means = (
        assign.select("cid", F.posexplode("v"))
        .groupBy("cid", "pos")
        .agg(
            # Round each mean to 9 dp: decimal->double conversion differs
            # in the last bit across engines (int128 vs BigDecimal), and
            # raw means would leak that drift into the output centroids.
            F.round(
                F.sum(F.col("col").cast("decimal(30,12)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("m")
        )
    )
    return dim_means.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda s: s["m"],
        ).alias("c")
    )


def kmeans_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iters: int = 2,
    train_limit: int | None = None,
) -> Centroids:
    """Train the coarse quantizer: ``iters`` Lloyd rounds from the k
    lowest-id seeds. Returns the centroids as a ``[(cid, c)]`` list in
    cid order — k×d doubles, KBs by contract — for
    :func:`kmeans_assign` / :func:`kmeans_assign_topn`.

    ``train_limit``: when set, Lloyd trains ONLY on rows with
    ``vid < train_limit`` — the production bounded-sample recipe
    (FAISS trains coarse quantizers on ≤~1M vectors, not the corpus);
    without it every consumer pays ``iters`` full-corpus passes before
    the quantizer exists. Deterministic and oracle-mirrorable (one
    WHERE clause). Assignment of the full corpus against the trained
    centroids is the caller's (cheap, single-pass) job.

    Two trainers, same values (see :data:`LOCAL_TRAIN_MAX`): a sample
    bounded by ``train_limit <= LOCAL_TRAIN_MAX`` is collected once
    and trained driver-side (:func:`_lloyd_local`); otherwise the
    distributed loop runs — :func:`_assign` plus the exact-decimal
    update per round — and only the final k centroids are collected."""
    e = df.select(F.col(id_col).alias("vid"), as_double_array(vec_col).alias("v"))
    train = e.where(F.col("vid") < train_limit) if train_limit is not None else e
    if train_limit is not None and train_limit <= LOCAL_TRAIN_MAX:
        return _lloyd_local(_collect_vectors(train), k, iters)
    cent = train.where(F.col("vid") < k).select(
        F.col("vid").alias("cid"), F.col("v").alias("c")
    )
    for _ in range(iters):
        # k tiny rows; without the checkpoint every later broadcast of
        # cent re-executes ALL previous rounds (broadcast exchanges are
        # re-planned per consumer), making the loop quadratic in iters.
        cent = _recompute_centroids(
            _assign(train, _centroid_candidates(cent))
        ).localCheckpoint(eager=False)
    return _collect_vectors(cent)


def kmeans_fit_predict(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iters: int = 2,
) -> DataFrame:
    """Run ``iters`` Lloyd iterations; returns one row per cluster:
    (cid, n_vecs, centroid) — final assignment sizes and refreshed
    centroids."""
    e = df.select(F.col(id_col).alias("vid"), as_double_array(vec_col).alias("v"))
    cent = e.where(F.col("vid") < k).select(
        F.col("vid").alias("cid"), F.col("v").alias("c")
    )
    assign = None
    for _ in range(iters):
        assign = _assign(e, _centroid_candidates(cent))
        cent = _recompute_centroids(assign).localCheckpoint(eager=False)
    sizes = assign.groupBy("cid").agg(F.count(F.lit(1)).alias("n_vecs"))
    return (
        sizes.join(cent, "cid")
        .select("cid", "n_vecs", F.col("c").alias("centroid"))
        .orderBy("cid")
    )
