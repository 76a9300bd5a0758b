"""Empty-input robustness: every operator must return an empty (not
erroring) result on an empty relation — at 100 TB empty partitions,
empty date slices, and fully-filtered batches are routine."""

from pyspark.sql import functions as F


def _empty_docs(spark):
    return spark.createDataFrame(
        [], "doc_id bigint, text string, lang string, source string"
    )


def test_dedup_ops_on_empty_corpus(spark):
    from aics_dask_utils_spark.operators import dedup as D

    docs = _empty_docs(spark)
    assert D.exact_dedup(docs).count() == 0
    assert D.minhash_lsh_pairs(docs).count() == 0
    assert D.simhash(docs).count() == 0
    assert D.ngram_jaccard_pairs(docs).count() == 0


def test_connected_components_on_empty_edges(spark):
    from aics_dask_utils_spark.operators.dedup import connected_components_star

    edges = spark.createDataFrame([], "d1 bigint, d2 bigint")
    assert connected_components_star(edges).count() == 0


def test_pagerank_on_empty_edges(spark):
    from aics_dask_utils_spark.operators.graph import pagerank

    edges = spark.createDataFrame([], "src int, dst int, w bigint")
    assert pagerank(edges, iters=2).count() == 0


def test_bm25_on_empty_corpus(spark):
    from aics_dask_utils_spark.operators.text import bm25_scores

    assert bm25_scores(_empty_docs(spark), ["hash"]).count() == 0


def test_weighted_sample_on_empty(spark):
    from aics_dask_utils_spark.operators.sampling import weighted_sample_topk

    df = spark.createDataFrame([], "doc_id bigint, n_tokens int")
    assert weighted_sample_topk(df, "doc_id", F.col("n_tokens"), 5).count() == 0


def test_short_doc_shingles_empty_not_error(spark):
    from aics_dask_utils_spark.operators.text import shingles

    df = spark.createDataFrame([(1, "one two")], "doc_id bigint, text string")
    row = df.select(shingles("text", 3).alias("s")).first()
    assert row["s"] == []


def test_bm25_rejects_empty_query(spark):
    import pytest as _pytest

    from aics_dask_utils_spark.operators.text import bm25_scores

    with _pytest.raises(ValueError, match="non-empty"):
        bm25_scores(_empty_docs(spark), [])


def test_minhash_rejects_nondividing_bands(spark):
    import pytest as _pytest

    from aics_dask_utils_spark.operators.dedup import minhash_lsh_pairs

    with _pytest.raises(ValueError, match="must divide"):
        minhash_lsh_pairs(_empty_docs(spark), num_hashes=12, bands=5)


def test_repeated_chunks_on_empty_corpus(spark):
    from aics_dask_utils_spark.operators.dedup import remove_repeated_chunks

    assert remove_repeated_chunks(_empty_docs(spark)).count() == 0


def test_triangle_counts_on_empty_edges(spark):
    from aics_dask_utils_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame([], "src bigint, dst bigint")
    assert triangle_counts(edges).count() == 0


def test_audio_frames_on_empty_binary(spark):
    from aics_dask_utils_spark.operators.multimodal import (
        audio_frame_features,
        decode_audios,
        frame_audio,
    )

    df = spark.createDataFrame([], "path string, content binary")
    framed = frame_audio(decode_audios(df), frame_len=4, hop=2)
    assert audio_frame_features(framed, 4).count() == 0


def test_semdedup_on_pairless_embeddings(spark):
    # orthogonal vectors: clustering runs, the pair graph is empty, and
    # the result (only dup-group members are emitted) must be empty
    from aics_dask_utils_spark.operators.dedup import semdedup

    rows = [(i, [1.0 if j == i else 0.0 for j in range(8)]) for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    assert semdedup(emb, k=2, iters=1, threshold=0.9).count() == 0


def test_label_propagation_on_empty_edges(spark):
    from aics_dask_utils_spark.operators.graph import label_propagation

    edges = spark.createDataFrame([], "src int, dst int, w bigint")
    assert label_propagation(edges, iters=2).count() == 0


def test_label_propagation_self_loops_only(spark):
    # a graph of only self-loops has no neighbors: no nodes survive
    # the symmetrize step, so the result is empty, not an error
    from aics_dask_utils_spark.operators.graph import label_propagation

    edges = spark.createDataFrame([(1, 1, 5), (2, 2, 3)], "src int, dst int, w bigint")
    assert label_propagation(edges, iters=2).count() == 0


def test_asof_nearest_empty_right(spark):
    # nearest direction with no right rows: every left row keeps NULL
    # payloads (both direction carries find nothing)
    import datetime

    from aics_dask_utils_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, datetime.datetime(2024, 1, 1))], "id long, k long, ts timestamp"
    )
    right = spark.createDataFrame([], "k long, rts timestamp, payload long")
    out = asof_join(
        left, right, left_on="k", right_on="k", left_ts="ts",
        right_ts="rts", payload_cols=["payload"], direction="nearest",
    ).collect()
    assert len(out) == 1 and out[0]["asof_payload"] is None


def test_srp_lsh_on_empty_embeddings(spark):
    # empty relation: first() returns None — must yield an empty pairs
    # frame with the contract schema, not a TypeError or zero-dim
    # hyperplanes
    from aics_dask_utils_spark.operators.dedup import srp_lsh_pairs

    emb = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    out = srp_lsh_pairs(emb)
    assert out.columns == ["v1", "v2", "cosine"]
    assert out.count() == 0


def test_srp_lsh_on_null_first_vector(spark):
    # NULL first embedding: size() is NULL — same empty-pairs contract
    from aics_dask_utils_spark.operators.dedup import srp_lsh_pairs

    emb = spark.createDataFrame(
        [(1, None), (2, None)], "vec_id bigint, embedding array<double>"
    )
    assert srp_lsh_pairs(emb).count() == 0


def test_asof_rejects_bad_direction(spark):
    import pytest as _pytest

    from aics_dask_utils_spark.operators.asof import asof_join

    with _pytest.raises(ValueError, match="backward|forward|nearest"):
        asof_join(None, None, "a", "b", "c", "d", [], direction="sideways")


def test_python_datasource_empty_table(spark):
    # n_rows=0 must yield an empty relation, not a zero-step range crash
    from aics_dask_utils_spark.sources.python_datasource import register_graftgen

    register_graftgen(spark)
    df = (
        spark.read.format("graftgen")
        .option("n_rows", 0)
        .option("n_parts", 4)
        .load()
    )
    assert df.count() == 0


def test_srp_lsh_null_first_row_does_not_mask_data(spark):
    # a NULL embedding landing physically first must NOT silently empty
    # the result: the dimensionality probe skips to the first non-null
    from aics_dask_utils_spark.operators.dedup import srp_lsh_pairs

    v = [1.0, 0.0, 0.0, 0.0]
    emb = spark.createDataFrame(
        [(0, None), (1, v), (2, v)],
        "vec_id bigint, embedding array<double>",
    ).coalesce(1)
    pairs = srp_lsh_pairs(emb, bits=8, bands=4, threshold=0.9).collect()
    assert {(r["v1"], r["v2"]) for r in pairs} == {(1, 2)}


def test_asof_fractional_tolerance(spark):
    # tolerance_seconds=0.5 must mean 500ms, not floor to 0 seconds
    import datetime as dt

    from aics_dask_utils_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame([(1, 1, t0)], "id long, k long, ts timestamp")
    right = spark.createDataFrame(
        [(1, t0 - dt.timedelta(milliseconds=400), 99)],
        "k long, rts timestamp, payload long",
    )

    def run(tol):
        return asof_join(
            left, right, left_on="k", right_on="k", left_ts="ts",
            right_ts="rts", payload_cols=["payload"],
            tolerance_seconds=tol,
        ).collect()[0]["asof_payload"]

    assert run(0.5) == 99   # 400ms gap inside 500ms tolerance
    assert run(0.3) is None  # outside 300ms tolerance


def test_quality_features_empty_text_is_null_not_divide_by_zero(spark):
    """Empty text has n_chars = 0; under ANSI (the session default) the
    punct-ratio division must yield NULL (try_divide), not throw
    DIVIDE_BY_ZERO, and the composite score must still be defined
    (LEAST skips the NULL term on both engines)."""
    from aics_dask_utils_spark.operators.text import quality_features

    df = spark.createDataFrame(
        [(1, ""), (2, "the cat sat on the mat")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in quality_features(df, "text").collect()}
    assert rows[1]["punct_ratio"] is None
    assert rows[1]["quality_score"] is not None
    assert rows[2]["punct_ratio"] is not None


def test_round7_stats_ops_on_empty_input(spark):
    from aics_dask_utils_spark.operators.stats import (
        binary_classifier_eval,
        calibration_bins,
        chi2_independence,
        global_row_numbers,
        kruskal_wallis,
    )

    ev = spark.createDataFrame([], "grp string, value double")
    kw = kruskal_wallis(ev, "value", "grp").collect()
    assert len(kw) == 1 and kw[0]["n_groups"] == 0  # 1-row NULL stats
    chi = chi2_independence(ev, "grp", "value").collect()
    assert len(chi) == 1 and chi[0]["n_rows"] == 0
    sc = spark.createDataFrame([], "score double, label boolean")
    ev_row = binary_classifier_eval(sc, "score", "label").collect()
    assert len(ev_row) == 1 and ev_row[0]["auc"] is None
    assert calibration_bins(sc, "score", "label").count() == 0
    ranked = global_row_numbers(
        spark.createDataFrame([], "id int, v int"), ["v", "id"]
    )
    assert ranked.count() == 0


def test_radius_join_on_empty_points(spark):
    from aics_dask_utils_spark.operators.geo import radius_self_join

    pts = spark.createDataFrame([], "pid int, lat double, lon double")
    assert radius_self_join(pts, "pid", "lat", "lon", 100.0).count() == 0


def test_bpe_on_degenerate_corpora(spark):
    """Empty corpus -> empty result; single-token docs -> an empty
    merge relation whose NULL pair must rewrite nothing (the left-join
    fail-closed path); a known toy corpus merges greedily
    left-to-right without overlap ('a a a' + merge (a,a) -> 'a a', not
    'a a'+'a a')."""
    from aics_dask_utils_spark.operators.text import bpe_train_encode

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert bpe_train_encode(empty, merges=2).count() == 0

    singles = spark.createDataFrame(
        [(1, "x"), (2, "y")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in bpe_train_encode(singles, merges=2).collect()
    }
    assert rows[1]["encoded_csv"] == "x" and rows[1]["n_after"] == 1

    toy = spark.createDataFrame(
        [(1, "a a a"), (2, "a a b")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["encoded_csv"]
        for r in bpe_train_encode(toy, merges=1).collect()
    }
    # most frequent pair is (a,a) x3 vs (a,b) x1: leftmost-greedy,
    # non-overlapping
    assert out[1] == "a a,a"
    assert out[2] == "a a,b"


def test_bpe_encode_frozen_table_matches_trainer(spark):
    """Encoding with the merge table the trainer would learn must give
    the trainer's exact output (the sample-train / corpus-encode
    equivalence the 100 TB path relies on), and the frozen-table path
    must plan without any shuffle or broadcast."""
    from aics_dask_utils_spark.operators.text import (
        bpe_encode,
        bpe_train_encode,
    )

    toy = spark.createDataFrame(
        [(1, "a a a b c"), (2, "a a b c c"), (3, "b c a a")],
        "doc_id long, text string",
    )
    # the two most frequent pairs on this corpus, in learned order:
    # round 1: (a,a) x3; round 2: (b,c) x3
    trained = {
        r["doc_id"]: r for r in bpe_train_encode(toy, merges=2).collect()
    }
    frozen = {
        r["doc_id"]: r
        for r in bpe_encode(toy, [("a", "a"), ("b", "c")]).collect()
    }
    assert {k: v["encoded_csv"] for k, v in trained.items()} == {
        k: v["encoded_csv"] for k, v in frozen.items()
    }
    plan = (
        bpe_encode(toy, [("a", "a"), ("b", "c")])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
