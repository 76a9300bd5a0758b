"""ANN quality: recall@10 against the exact brute-force baseline.

An approximate index that silently returns the wrong neighbors is
worse than a slow exact scan — these tests pin the measured recall of
each index variant so a regression in the quantizer or probe logic
shows up as a red bar, not as silently degraded retrieval."""

import pytest

from aics_dask_utils_spark.plans import all_plans


def _topsets(spark, sf_dir, name):
    rows = all_plans()[name].fn(spark, sf_dir).collect()
    out = {}
    for r in rows:
        out.setdefault(r["q_id"], set()).add(r["neighbor_id"])
    return out


@pytest.fixture(scope="module")
def brute(spark, sf_dir):
    return _topsets(spark, sf_dir, "ann_topk_brute")


def _mean_recall(brute, cand):
    recs = [len(brute[q] & cand.get(q, set())) / len(brute[q]) for q in brute]
    return sum(recs) / len(recs)


def test_learned_ivf_recall_floor(spark, sf_dir, brute):
    r = _mean_recall(brute, _topsets(spark, sf_dir, "ann_topk_learned_ivf"))
    assert r >= 0.7, r


def test_multiprobe_beats_single_probe(spark, sf_dir, brute):
    single = _mean_recall(brute, _topsets(spark, sf_dir, "ann_topk_learned_ivf"))
    multi = _mean_recall(brute, _topsets(spark, sf_dir, "ann_topk_multiprobe"))
    assert multi >= single
    assert multi >= 0.9, multi


def test_exact_pandas_path_has_full_recall(spark, sf_dir, brute):
    # the numpy matmul variant is exact — only float tie-break order may
    # differ, so recall must be 1.0 up to ties; allow one swapped rank-10
    r = _mean_recall(brute, _topsets(spark, sf_dir, "ann_topk_pandas"))
    assert r >= 0.98, r


def test_pq_recall_floor(spark, sf_dir, brute):
    # 16x4-dim codebooks at 16 words = 16x compression; on these
    # near-random synthetic embeddings ADC recall is ~0.46 — the floor
    # pins "well above the 10/500 = 0.02 chance level", and any
    # quantizer/LUT regression drops straight through it.
    r = _mean_recall(brute, _topsets(spark, sf_dir, "ann_topk_pq"))
    assert r >= 0.35, r


def test_ivfpq_recall_floor(spark, sf_dir, brute):
    # IVFADC (coarse cells + residual PQ + exact top-50 refine): the
    # 2-of-4-cell probe caps recall at whatever survives the IVF prune
    # (measured 0.92 at sf0.001, 0.78 at sf0.01); the floor pins "the
    # residual quantizer and the base-term decomposition are not
    # broken" — a regression in either collapses it toward the
    # 10/500 = 0.02 chance level.
    r = _mean_recall(brute, _topsets(spark, sf_dir, "ann_topk_ivfpq"))
    assert r >= 0.7, r


def test_pq_refine_recovers_recall(spark, sf_dir, brute):
    # exact re-rank of the ADC top-50 shortlist must beat raw PQ and
    # clear a high floor: any brute-force top-10 neighbor missed means
    # the shortlist never contained it
    raw = _mean_recall(brute, _topsets(spark, sf_dir, "ann_topk_pq"))
    refined = _mean_recall(brute, _topsets(spark, sf_dir, "ann_topk_pq_refine"))
    assert refined >= raw, (refined, raw)
    assert refined >= 0.8, refined


# ---------------------------------------------------------------------------
# semantic_screen (the decontamination screen rides the same cosine
# machinery; these pin its contract on constructed vectors where the
# right answer is knowable by hand)
# ---------------------------------------------------------------------------


def test_semantic_screen_flags_exact_and_spares_orthogonal(spark):
    from aics_dask_utils_spark.operators.similarity import semantic_screen

    corpus = spark.createDataFrame(
        [
            (10, [1.0, 0.0, 0.0]),   # identical to ref 1 -> cosine 1.0
            (11, [0.0, 1.0, 0.0]),   # orthogonal to both refs
            (12, [2.0, 0.0, 0.0]),   # same direction, different norm
            (13, [-1.0, 0.0, 0.0]),  # antipodal -> cosine -1.0
        ],
        "vec_id long, embedding array<double>",
    )
    refs = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r
        for r in semantic_screen(corpus, refs, threshold=0.9).collect()
    }
    assert got[10]["contaminated"] == 1 and got[10]["max_cosine"] == 1.0
    assert got[12]["contaminated"] == 1  # normalization makes norm irrelevant
    assert got[11]["contaminated"] == 0 and got[11]["max_cosine"] == 0.0
    # max over refs: cos(ref1) = -1.0, cos(ref2) = 0.0 -> max is 0.0
    assert got[13]["contaminated"] == 0 and got[13]["max_cosine"] == 0.0
    assert got[10]["n_hits"] == 1  # only ref 1, not the orthogonal ref 2


def test_semantic_screen_counts_multiple_hits_and_covers_all_rows(spark):
    from aics_dask_utils_spark.operators.similarity import semantic_screen

    corpus = spark.createDataFrame(
        [(20, [1.0, 1.0])], "vec_id long, embedding array<double>"
    )
    refs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    # cos((1,1)/sqrt2, e1) = cos(., e2) = 0.7071... -> two hits at 0.7
    rows = semantic_screen(corpus, refs, threshold=0.7).collect()
    assert len(rows) == 1  # one output row per corpus vector, always
    assert rows[0]["n_hits"] == 2 and rows[0]["contaminated"] == 1


def test_semantic_screen_rejects_empty_refs(spark):
    # An empty eval suite must be a loud error, not a silently empty
    # audit trail (the crossJoin/equi-join would otherwise drop every
    # corpus row from the result).
    import pytest as _pytest

    from aics_dask_utils_spark.operators.similarity import (
        semantic_screen,
        semantic_screen_ivf,
    )

    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0], 0)],
        "vec_id long, embedding array<double>, label int",
    )
    empty = corpus.where("vec_id < 0")
    with _pytest.raises(ValueError, match="refs must be non-empty"):
        semantic_screen(corpus, empty)
    with _pytest.raises(ValueError, match="refs must be non-empty"):
        semantic_screen_ivf(corpus, empty)


def test_semantic_screen_ivf_keeps_unprobed_rows_in_audit_trail(spark):
    # A corpus row whose cell holds no reference must survive the LEFT
    # join: uncontaminated, n_hits 0, max_cosine NULL — never dropped.
    from aics_dask_utils_spark.operators.similarity import semantic_screen_ivf

    corpus = spark.createDataFrame(
        [
            (10, [1.0, 0.0], 0),  # cell 0: has a ref, identical
            (11, [1.0, 0.0], 1),  # cell 1: no refs at all
        ],
        "vec_id long, embedding array<double>, label int",
    )
    refs = spark.createDataFrame(
        [(1, [1.0, 0.0], 0)],
        "vec_id long, embedding array<double>, label int",
    )
    got = {
        r["vec_id"]: r
        for r in semantic_screen_ivf(corpus, refs, threshold=0.9).collect()
    }
    assert len(got) == 2
    assert got[10]["contaminated"] == 1 and got[10]["n_hits"] == 1
    assert got[11]["contaminated"] == 0 and got[11]["n_hits"] == 0
    assert got[11]["max_cosine"] is None


def _contaminated_set(spark, sf_dir, name):
    return {
        r["vec_id"]
        for r in all_plans()[name].fn(spark, sf_dir).collect()
        if r["contaminated"] == 1
    }


def test_ivf_decontamination_is_a_subset_with_recall_floor(spark, sf_dir):
    # The IVF screen only ever REMOVES comparisons, so its contaminated
    # set must be a subset of the full screen's (no spurious flags),
    # and the 2-of-4-probe-cell prune must keep measured contamination
    # recall above the floor (0.67/1.0/0.70 observed at sf0.001/0.01/
    # 0.1 — the same regime as the learned-IVF ANN floor).
    full = _contaminated_set(spark, sf_dir, "pipeline_semantic_decontaminate")
    ivf = _contaminated_set(
        spark, sf_dir, "pipeline_semantic_decontaminate_ivf"
    )
    assert ivf <= full, ivf - full
    assert full, "full screen found nothing — fixture drifted"
    recall = len(ivf & full) / len(full)
    assert recall >= 0.6, recall


def test_ivf_decontamination_nprobe_monotone_and_exhaustive_at_k(spark, sf_dir):
    # The n-probe knob's contract, measured (the r10-queue recall
    # curve): probing more cells only ADDS comparisons, so the
    # contaminated sets must form a subset chain in n_probe, and
    # probing ALL k=4 cells must reproduce the full screen exactly
    # (every corpus row then compares against every reference).
    # Measured recall curve at sf0.01: n=1 -> 0.43 (3/7), n=2 -> 1.0
    # (the plan's pinned floor), n=4 -> 1.0 by construction.
    from pyspark.sql import functions as F

    from aics_dask_utils_spark.functions.vectors import as_double_array
    from aics_dask_utils_spark.operators.clustering import (
        kmeans_assign,
        kmeans_assign_topn,
        kmeans_centroids,
    )
    from aics_dask_utils_spark.operators.similarity import semantic_screen_ivf
    from aics_dask_utils_spark.sources import load_table

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

    def contaminated(n_probe):
        corpus = kmeans_assign_topn(
            e.where(F.col("vid") >= 25), cent, n=n_probe
        ).select(
            F.col("vid").alias("vec_id"),
            F.col("v").alias("embedding"),
            F.col("cid").alias("cell"),
        )
        res = semantic_screen_ivf(corpus, refs, cell_col="cell", threshold=0.4)
        return {r["vec_id"] for r in res.collect() if r["contaminated"] == 1}

    full = _contaminated_set(spark, sf_dir, "pipeline_semantic_decontaminate")
    assert full, "full screen found nothing — fixture drifted"
    c1, c2, c4 = contaminated(1), contaminated(2), contaminated(4)
    assert c1 <= c2 <= c4, "probe widening must only add flags"
    assert c4 == full, "probing all cells must equal the full screen"
    # the plan ships n=2; its measured recall floor is pinned in
    # test_ivf_decontamination_is_a_subset_with_recall_floor
    assert len(c2 & full) / len(full) >= 0.6


# ---------------------------------------------------------------------------
# batched hybrid RRF: the ANN dense side vs the exact dense side
# ---------------------------------------------------------------------------


def _fused_top5(spark, sf_dir, name):
    rows = all_plans()[name].fn(spark, sf_dir).collect()
    by_q, lex = {}, {}
    for r in rows:
        by_q.setdefault(r["q_id"], set()).add(r["doc_id"])
        lex[(r["q_id"], r["doc_id"])] = r["r_lex"]
    return by_q, lex


def test_hybrid_batch_ann_prunes_without_losing_the_lexical_side(
    spark, sf_dir
):
    # The IVF dense side may shift fused ranks (that's the documented
    # recall/cost trade) but must never (a) lose a query, (b) disagree
    # with the exact plan on any lexical rank it reports, or (c) drop
    # fused top-5 overlap below the measured floor.
    exact_top, exact_lex = _fused_top5(spark, sf_dir, "search_hybrid_rrf_batch")
    ann_top, ann_lex = _fused_top5(
        spark, sf_dir, "search_hybrid_rrf_batch_ann"
    )
    assert set(exact_top) == set(ann_top) == {0, 1, 2}
    for key, rl in ann_lex.items():
        if key in exact_lex and rl is not None and exact_lex[key] is not None:
            assert rl == exact_lex[key], key
    rec = sum(
        len(exact_top[q] & ann_top[q]) / len(exact_top[q]) for q in exact_top
    ) / len(exact_top)
    assert rec >= 0.5, rec


def test_hybrid_batch_pq_shortlist_keeps_the_lexical_side(spark, sf_dir):
    # Same contract as the IVF dense side, for the PQ/refine dense
    # side: the ADC shortlist may shift fused ranks, but must never
    # (a) lose a query, (b) disagree with the exact plan on any
    # lexical rank it reports, or (c) drop fused top-5 overlap below
    # the measured floor. Additional PQ-specific invariant: every
    # dense rank it reports is <= 50 (the shortlist bound).
    exact_top, exact_lex = _fused_top5(spark, sf_dir, "search_hybrid_rrf_batch")
    pq_top, pq_lex = _fused_top5(spark, sf_dir, "search_hybrid_rrf_batch_pq")
    assert set(exact_top) == set(pq_top) == {0, 1, 2}
    for key, rl in pq_lex.items():
        if key in exact_lex and rl is not None and exact_lex[key] is not None:
            assert rl == exact_lex[key], key
    rows = all_plans()["search_hybrid_rrf_batch_pq"].fn(spark, sf_dir).collect()
    assert all(r["r_vec"] is None or r["r_vec"] <= 50 for r in rows)
    rec = sum(
        len(exact_top[q] & pq_top[q]) / len(exact_top[q]) for q in exact_top
    ) / len(exact_top)
    assert rec >= 0.5, rec


def test_hybrid_batch_ivfpq_prunes_and_compresses_without_losing_lexical(
    spark, sf_dir
):
    # The IVFADC dense side (cell-pruned AND code-compressed) carries
    # the same contract as the IVF and PQ dense sides: it may shift
    # fused ranks, but must never (a) lose a query, (b) disagree with
    # the exact plan on any lexical rank it reports, or (c) drop fused
    # top-5 overlap below the measured floor; and every dense rank it
    # reports is <= 50 (the refine shortlist bound).
    exact_top, exact_lex = _fused_top5(spark, sf_dir, "search_hybrid_rrf_batch")
    iv_top, iv_lex = _fused_top5(
        spark, sf_dir, "search_hybrid_rrf_batch_ivfpq"
    )
    assert set(exact_top) == set(iv_top) == {0, 1, 2}
    for key, rl in iv_lex.items():
        if key in exact_lex and rl is not None and exact_lex[key] is not None:
            assert rl == exact_lex[key], key
    rows = (
        all_plans()["search_hybrid_rrf_batch_ivfpq"].fn(spark, sf_dir).collect()
    )
    assert all(r["r_vec"] is None or r["r_vec"] <= 50 for r in rows)
    rec = sum(
        len(exact_top[q] & iv_top[q]) / len(exact_top[q]) for q in exact_top
    ) / len(exact_top)
    assert rec >= 0.5, rec


def test_hybrid_alpha_col_matches_global_weight_where_alphas_agree(
    spark, sf_dir
):
    # Per-query alpha as DATA must reproduce the plan-literal weighted
    # fusion wherever the weights coincide: q_id 0 carries alpha 0.7 —
    # exactly search_hybrid_rrf_weighted's global alpha — so its top-5
    # (doc_id, r_lex, r_vec, rrf) rows must be identical; and every
    # output row must carry its own alpha from the weight relation.
    from aics_dask_utils_spark.plans.text import _RRF_QUERY_ALPHA

    rows = (
        all_plans()["search_hybrid_rrf_alpha_col"].fn(spark, sf_dir).collect()
    )
    assert {r["q_id"] for r in rows} == {0, 1, 2}
    for r in rows:
        assert r["alpha"] == _RRF_QUERY_ALPHA[r["q_id"]], r
    wrows = (
        all_plans()["search_hybrid_rrf_weighted"].fn(spark, sf_dir).collect()
    )
    a0 = {
        (r["doc_id"], r["r_lex"], r["r_vec"], r["rrf"])
        for r in rows
        if r["q_id"] == 0
    }
    w0 = {
        (r["doc_id"], r["r_lex"], r["r_vec"], r["rrf"])
        for r in wrows
        if r["q_id"] == 0
    }
    assert a0 == w0, a0 ^ w0


def test_local_residual_sample_matches_engine_chain(spark, sf_dir):
    # The round-12 single-collect IVFADC trainer derives the residual
    # training sample DRIVER-SIDE from the coarse trainer's collected
    # sample (similarity._residual_subs_local, which takes that sample
    # as an argument). Pin bit-exact equivalence against the
    # engine-side chain it replaced (kmeans_assign -> centroid join ->
    # zip_with subtract -> posexplode slices) on the real embeddings.
    from pyspark.sql import functions as F

    from aics_dask_utils_spark.functions.vectors import with_unit_vector
    from aics_dask_utils_spark.operators.clustering import (
        _collect_vectors,
        kmeans_assign,
        kmeans_centroids,
    )
    from aics_dask_utils_spark.operators.similarity import (
        _residual_subs_local,
    )

    m, d = 16, 4
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    e = with_unit_vector(
        emb.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("v0")),
        "v0",
        "u",
    ).select("vid", "u")
    cent = kmeans_centroids(e, "vid", "u", k=4, iters=2, train_limit=64)
    cent_rel = spark.createDataFrame(cent, "cid long, c array<double>")
    assigned = kmeans_assign(e.select("vid", F.col("u").alias("v")), cent)
    res = assigned.join(cent_rel, "cid").select(
        "vid", F.zip_with("v", "c", lambda a, b: a - b).alias("r")
    )
    slices = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda i: F.slice("r", i * d + 1, d),
    )
    engine = {
        (r[0], r[1]): list(r[2])
        for r in res.where(F.col("vid") < 64)
        .select("vid", F.posexplode(slices).alias("s", "v"))
        .collect()
    }
    sample = _collect_vectors(e.where(F.col("vid") < 64))
    local = {
        (vid, s): v for vid, s, v in _residual_subs_local(sample, cent, m, d)
    }
    assert engine == local  # bit-exact: same keys, same doubles


def _train_all(e, train_limit, k, iters, m, d, codes_k):
    """Every trained quantizer over the (vid, u) relation ``e``:
    k-means centroids, PQ codebooks, IVFADC coarse + residual
    codebooks — all plain lists."""
    from aics_dask_utils_spark.operators.clustering import kmeans_centroids
    from aics_dask_utils_spark.operators.similarity import _ivfpq_fit, _pq_fit

    coarse, residual, _ = _ivfpq_fit(
        e, k, iters, m, d, codes_k, iters, train_limit
    )
    return {
        "kmeans": kmeans_centroids(
            e, "vid", "u", k=k, iters=iters, train_limit=train_limit
        ),
        "pq": _pq_fit(e, "u", m, d, codes_k, iters, train_limit),
        "ivfadc_coarse": coarse,
        "ivfadc_residual": residual,
    }


def _assert_gate_identical(monkeypatch, e, train_limit, **kw):
    # Default gate: the driver-side trainers. Gate 0: the distributed
    # loops on the same bounded sample. ``repr`` compares every double
    # exactly (shortest round-trip digits; -0.0 and nan spelled out).
    from aics_dask_utils_spark.operators import clustering as C

    local = _train_all(e, train_limit, **kw)
    monkeypatch.setattr(C, "LOCAL_TRAIN_MAX", 0)
    dist = _train_all(e, train_limit, **kw)
    for name in local:
        assert local[name], name
        assert repr(local[name]) == repr(dist[name]), name


def test_trainer_gate_is_value_identical(spark, sf_dir, monkeypatch):
    # LOCAL_TRAIN_MAX only chooses WHERE a bounded sample trains:
    # pure-Python Lloyd on the driver or the distributed loop. Both
    # must return the same centroids and codebooks bit for bit, or the
    # gate would change query results.
    from pyspark.sql import functions as F

    from aics_dask_utils_spark.functions.vectors import with_unit_vector

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    e = with_unit_vector(
        emb.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("v0")),
        "v0",
        "u",
    ).select("vid", "u")
    _assert_gate_identical(
        monkeypatch, e, 64, k=4, iters=2, m=16, d=4, codes_k=16
    )


@pytest.mark.parametrize(
    "bad,row,iters",
    [
        # a non-seed row with a NaN component: the engine's decimal
        # cast makes it NULL, so SUM skips it while COUNT(1) counts it
        (float("nan"), 3, 1),
        # ±Inf casts to NULL the same way (the local Decimal used to
        # raise InvalidOperation)
        (float("inf"), 3, 1),
        (float("-inf"), 3, 1),
        # a NaN SEED: its cluster has no finite value in dimension 0,
        # so that centroid component is NULL and the next round's
        # NULL distances sort first
        (float("nan"), 0, 2),
    ],
)
def test_trainer_gate_agrees_on_non_finite_components(
    spark, monkeypatch, bad, row, iters
):
    rows = []
    for i in range(10):
        v = [float(i % 3), 1.0 + 0.1 * i, 2.0 - 0.05 * i, 0.01 * i * i]
        if i == row:
            v[0] = bad
        rows.append((i, v))
    e = spark.createDataFrame(rows, "vid long, u array<double>")
    _assert_gate_identical(
        monkeypatch, e, 10, k=2, iters=iters, m=2, d=2, codes_k=2
    )
