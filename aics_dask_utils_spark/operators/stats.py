"""Distributed statistics: drift monitoring, A/B testing, per-key caps.

The "model-fit and monitoring" layer of a corpus pipeline, built on one
scale shape: a single keyed scan with map-side partials collapses the
data to a grid that is tiny by construction (histogram cells, moments,
per-key counts), and the statistic derives in closed form from the
grid. Nothing here sorts or ranks raw rows globally, and every double
result is partition-count- and engine-deterministic:

- integer quantities (counts, cumulative counts) stay exact integers;
- float sums accumulate as exact decimals (`functions/deterministic`);
- unavoidable double folds (PSI terms) run in a PINNED order over the
  collected grid, never in partition order.

The reference has no statistics surface; these are EXT capabilities of
the LLM-data-pipeline north star (SURVEY §2b). Registry plans
(`plans/events_windows.py`, `plans/llm_pipeline.py`) delegate here and
pin each result against a DuckDB oracle; `tests/test_stats_operators.py`
property-tests the operators on random frames against numpy.

`cusum_changepoint` is library-only this round (round 7): the
attestation window is fully allocated to must-attest changes and a
plan must be attested the round it registers, so its registry plan
(+ DuckDB oracle — the same grid CTE family as events_autocorrelation
with a window-list fold) takes a round-8 window slot. This is the same
queue discipline `mann_whitney_u` used in round 5 (its plan landed and
went green in round 6).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def binned_ecdf_drift(
    df: DataFrame,
    value_col: str,
    group_col: str,
    label_a: str,
    label_b: str,
    *,
    bin_width: float = 5.0,
    n_bins: int = 100,
) -> DataFrame:
    """Two-sample distribution drift on a pinned histogram grid.

    Returns a 1-row frame ``(n_a, n_b, ks_d, psi)``: the binned-ECDF
    Kolmogorov-Smirnov sup-distance (9 dp) and the Population
    Stability Index (6 dp, Laplace-smoothed 0.5/cell) between the
    ``value_col`` distributions of groups ``label_a`` and ``label_b``.

    Exact KS needs a global rank of every observation — unaffordable
    at scale. The binned statistic is ONE map-side-combined groupBy
    onto ``n_bins`` cells (``floor(value / bin_width)``, both edge
    cells absorbing out-of-range values); cumulative counts stay exact
    integers so the KS term set is engine-identical, and the PSI
    doubles fold in pinned bin order over the collected grid. Rows
    whose ``group_col`` is neither label (including NULL) are ignored,
    and so are NULL ``value_col`` rows — a NULL value has no bin, and
    letting it form a NULL bin group would both skew n_a/n_b and sort
    engine-dependently (Spark array_sort vs SQL window ORDER BY place
    NULL differently). If either sample is empty, ks_d degrades to 0.0
    rather than erroring — check ``n_a``/``n_b`` before trusting the
    statistics.
    """
    smooth_den = 0.5 * n_bins
    pair = df.filter(
        F.col(group_col).isin(label_a, label_b)
        & F.col(value_col).isNotNull()
    )
    # Both grid edges absorb: values below 0 clamp into bin 0 the same
    # way the tail clamps into the last bin, so the cell count is
    # bounded by n_bins for ANY input domain.
    bin_ = F.least(
        F.greatest(F.floor(F.col(value_col) / F.lit(bin_width)), F.lit(0)),
        F.lit(n_bins - 1),
    ).cast("int")
    is_a = F.col(group_col) == label_a
    cells = pair.groupBy(bin_.alias("bin")).agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("ca"),
        F.sum(F.when(~is_a, 1).otherwise(0)).cast("long").alias("cb"),
    )
    one = cells.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.array_sort(F.collect_list(F.struct("bin", "ca", "cb"))).alias("grid"),
    )
    na_d = F.col("n_a").cast("double")
    nb_d = F.col("n_b").cast("double")
    ks_init = F.struct(
        F.lit(0).cast("long").alias("cum_a"),
        F.lit(0).cast("long").alias("cum_b"),
        F.lit(0.0).alias("d"),
    )
    # try_divide: ANSI mode throws DIVIDE_BY_ZERO for every numeric
    # type including double, so an empty sample (n == 0) must divide
    # to NULL, which greatest() then skips — ks_d degrades to 0.0
    # instead of crashing. Callers should check n_a/n_b > 0.
    ks = F.aggregate(
        "grid",
        ks_init,
        lambda acc, x: F.struct(
            (acc["cum_a"] + x["ca"]).alias("cum_a"),
            (acc["cum_b"] + x["cb"]).alias("cum_b"),
            F.greatest(
                acc["d"],
                F.abs(
                    F.try_divide((acc["cum_a"] + x["ca"]).cast("double"), na_d)
                    - F.try_divide((acc["cum_b"] + x["cb"]).cast("double"), nb_d)
                ),
            ).alias("d"),
        ),
    )["d"]

    def _p(x, cnt, n_d):
        # Smoothed cell proportion; term order mirrors the SQL oracle.
        return (x[cnt].cast("double") + F.lit(0.5)) / (
            n_d + F.lit(smooth_den)
        )

    psi = F.aggregate(
        "grid",
        F.lit(0.0),
        lambda a, x: a
        + (_p(x, "ca", na_d) - _p(x, "cb", nb_d))
        * F.log(_p(x, "ca", na_d) / _p(x, "cb", nb_d)),
    )
    return one.select(
        "n_a",
        "n_b",
        F.round(ks, 9).alias("ks_d"),
        F.round(psi, 6).alias("psi"),
    )


def welch_ttest(
    df: DataFrame,
    value_col: str,
    variant_col: str,
    baseline: str,
    *,
    value_decimal: str = "decimal(18,2)",
) -> DataFrame:
    """Per-variant Welch's t-test against a baseline variant.

    Returns one row per non-baseline variant:
    ``(<variant_col>, n_a, n_b, mean_diff, t_stat, df)`` with the
    Welch-Satterthwaite degrees of freedom, all rounded to 6 dp.

    Moments only: count, sum and sum-of-squares accumulate as EXACT
    decimals (``value_decimal`` must hold the input exactly — default
    suits 2-dp metrics), so one keyed scan with map-side partials
    collapses the data to a per-variant moment grid; the baseline row
    joins back as a broadcast and t/df derive in closed-form double.
    At 100 TB this scores thousands of experiment cells in one pass.
    Degenerate groups yield NULL, never an error: ANSI mode throws
    DIVIDE_BY_ZERO for every numeric type (including double), so the
    zero-able denominators — (n-1) for singleton groups, the standard
    error for zero-variance pairs — go through ``try_divide``, whose
    NULL propagates to t/df. Rows whose ``variant_col`` is NULL match
    neither the baseline filter nor its negation and are excluded, and
    NULL ``value_col`` rows are filtered out up front — counting them
    in n while SUM skips them would silently bias every mean and
    variance (oracles must mirror with WHERE value IS NOT NULL).
    """
    from pyspark import StorageLevel

    v = F.col(value_col).cast(value_decimal)
    # persisted: the baseline and arm branches both consume the tiny
    # per-variant moments; without this the source is scanned twice
    g = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(variant_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v).cast("double").alias("sv"),
            F.sum(v * v).cast("double").alias("sv2"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    base = g.filter(F.col(variant_col) == baseline).select(
        F.col("n").alias("n_b"),
        F.col("sv").alias("svb"),
        F.col("sv2").alias("sv2b"),
    )
    arms = g.filter(F.col(variant_col) != baseline).select(
        variant_col,
        F.col("n").alias("n_a"),
        F.col("sv").alias("sva"),
        F.col("sv2").alias("sv2a"),
    )
    j = arms.crossJoin(F.broadcast(base))
    # Group counts are >= 1 by construction, so /n is safe; every
    # zero-able denominator goes through try_divide (see docstring).
    mean_diff = F.col("sva") / F.col("n_a") - F.col("svb") / F.col("n_b")
    se2a = (
        F.try_divide(
            F.col("sv2a") - F.col("sva") * F.col("sva") / F.col("n_a"),
            F.col("n_a") - 1,
        )
    ) / F.col("n_a")
    se2b = (
        F.try_divide(
            F.col("sv2b") - F.col("svb") * F.col("svb") / F.col("n_b"),
            F.col("n_b") - 1,
        )
    ) / F.col("n_b")
    dof = F.try_divide(
        F.pow(se2a + se2b, 2),
        F.try_divide(F.pow(se2a, 2), F.col("n_a") - 1)
        + F.try_divide(F.pow(se2b, 2), F.col("n_b") - 1),
    )
    return j.select(
        variant_col,
        "n_a",
        "n_b",
        F.round(mean_diff, 6).alias("mean_diff"),
        F.round(F.try_divide(mean_diff, F.sqrt(se2a + se2b)), 6).alias(
            "t_stat"
        ),
        F.round(dof, 6).alias("df"),
    ).orderBy(variant_col)


def cap_per_key(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[Column],
    k: int,
) -> DataFrame:
    """Keep at most ``k`` rows per key, preferring ``order_cols`` order.

    The RefinedWeb/C4 host-cap shape, skew-aware: a tiny per-key count
    relation (map-side combined) broadcast-splits the scan — keys
    already at or under the cap keep every row WITHOUT sorting (at web
    scale, almost all of them), and only oversized keys pay the
    ``row_number`` window, which Spark further prunes with a
    below-shuffle WindowGroupLimit so at most ~k rows per key reach
    the window sort. ``order_cols`` must be a total order within every
    key (include a unique tiebreak) or the kept set is nondeterministic.
    NULL key values form their own group and are capped like any other
    (the split joins are null-safe), matching groupBy semantics.
    """
    import operator
    from functools import reduce

    from pyspark.sql.window import Window as W

    from pyspark import StorageLevel

    keys = list(key_cols)
    # persisted: both split branches probe the tiny count relation;
    # without this each branch re-scans the SOURCE to rebuild it (the
    # two branch probes themselves intentionally scan the source once
    # each — that is the no-sort-for-under-cap-keys trade).
    counts = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def _semi(pred):
        # Null-safe semi join against the (aliased) key list so
        # NULL-keyed rows route to their branch instead of vanishing.
        side = counts.filter(pred).select(
            *[F.col(c).alias(f"__ck_{c}") for c in keys]
        )
        cond = reduce(
            operator.and_,
            [df[c].eqNullSafe(side[f"__ck_{c}"]) for c in keys],
        )
        return df.join(F.broadcast(side), cond, "left_semi")

    keep_all = _semi(F.col("cnt") <= k)
    capped = (
        _semi(F.col("cnt") > k)
        .withColumn(
            "__rk",
            F.row_number().over(
                W.partitionBy(*keys).orderBy(*order_cols)
            ),
        )
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )
    return keep_all.unionByName(capped)


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    label_a: str,
    label_b: str,
    *,
    bin_width: float = 5.0,
    n_bins: int = 100,
) -> DataFrame:
    """Binned two-sample Mann-Whitney U with a tie-corrected normal z.

    Returns a 1-row frame ``(n_a, n_b, u_stat, z_score)``. The
    nonparametric complement of :func:`welch_ttest`: no normality
    assumption, robust to heavy tails — the right default for skewed
    production metrics (latencies, revenues).

    Exact U needs a global rank of every observation; like
    :func:`binned_ecdf_drift` this uses the pinned histogram grid
    instead, treating each cell as one midrank tie group (the standard
    tie treatment, so U = sum_i ca_i * (cumB_{<i} + cb_i/2)) — ONE
    map-side-combined groupBy, then pinned-order folds over the
    <= n_bins collected cells. The tie-corrected variance
    n_a*n_b/12 * ((n+1) - sum(t^3 - t)/(n*(n-1))) uses the cell totals
    as tie-group sizes. Accumulation is double (a test statistic, not
    an accounting sum) but partition- and engine-deterministic because
    every fold runs in bin order over exact integer cell counts.
    Degenerate inputs (a sample empty, all values in one cell) yield
    NULL z via ``try_divide``, never an error. No continuity
    correction is applied. NULL ``value_col`` rows are excluded (no
    bin, and a NULL bin group would skew n and sort engine-dependently)
    as are rows whose ``group_col`` is neither label.
    """
    pair = df.filter(
        F.col(group_col).isin(label_a, label_b)
        & F.col(value_col).isNotNull()
    )
    bin_ = F.least(
        F.greatest(F.floor(F.col(value_col) / F.lit(bin_width)), F.lit(0)),
        F.lit(n_bins - 1),
    ).cast("int")
    is_a = F.col(group_col) == label_a
    cells = pair.groupBy(bin_.alias("bin")).agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("ca"),
        F.sum(F.when(~is_a, 1).otherwise(0)).cast("long").alias("cb"),
    )
    one = cells.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.array_sort(F.collect_list(F.struct("bin", "ca", "cb"))).alias("grid"),
    )
    u_init = F.struct(
        F.lit(0).cast("long").alias("cum_b"),
        F.lit(0.0).alias("u"),
    )
    u = F.aggregate(
        "grid",
        u_init,
        lambda acc, x: F.struct(
            (acc["cum_b"] + x["cb"]).alias("cum_b"),
            (
                acc["u"]
                + x["ca"].cast("double")
                * (acc["cum_b"].cast("double") + x["cb"].cast("double") / 2.0)
            ).alias("u"),
        ),
    )["u"]
    tie_sum = F.aggregate(
        "grid",
        F.lit(0.0),
        lambda a, x: a
        + (
            F.pow((x["ca"] + x["cb"]).cast("double"), 3)
            - (x["ca"] + x["cb"]).cast("double")
        ),
    )
    na_d = F.col("n_a").cast("double")
    nb_d = F.col("n_b").cast("double")
    n_d = na_d + nb_d
    var = (na_d * nb_d / 12.0) * (
        (n_d + 1.0) - F.try_divide(tie_sum, n_d * (n_d - 1.0))
    )
    z = F.try_divide(u - na_d * nb_d / 2.0, F.sqrt(var))
    return one.select(
        "n_a",
        "n_b",
        F.round(u, 6).alias("u_stat"),
        F.round(z, 6).alias("z_score"),
    )


def kruskal_wallis(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    bin_width: float = 5.0,
    n_bins: int = 100,
) -> DataFrame:
    """Binned k-group Kruskal-Wallis H with tie correction.

    The k-group generalization of :func:`mann_whitney_u` (one-way
    ANOVA on ranks, no normality assumption): returns a 1-row frame
    ``(n_groups, n_total, dof, h_stat, h_tie_corrected)``.

    Exact H needs a global rank; like the rest of this module the
    observations collapse onto the pinned histogram grid, each cell a
    midrank tie group. Ranks are carried as TWICE-midranks
    ``tm_i = 2*cumBefore_i + t_i + 1`` so every per-group rank sum
    ``R2_g = sum_i c_{g,i} * tm_i`` is an EXACT integer (no double
    accumulation anywhere near the data): one (group, bin) keyed scan
    with map-side partials, a <= n_bins bin-total relation whose
    cumulative counts come from one pinned-order fold, and a final
    fold over the <= k group rows computing
    ``H = 12/(N(N+1)) * sum_g (R_g^2 / n_g) - 3(N+1)`` in double.
    Tie correction divides by ``1 - sum(t^3 - t)/(N^3 - N)``
    (``try_divide`` -> NULL on degenerate inputs, never an error).
    NULL values and NULL group labels are excluded, mirroring
    :func:`mann_whitney_u`'s contract.

    At 100 TB the shuffled state is k*n_bins cells regardless of row
    count — the affordable shape for scoring thousands of experiment
    arms in one pass. (EXT stats; reference has no statistics surface.)
    """
    pair = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    )
    bin_ = F.least(
        F.greatest(F.floor(F.col(value_col) / F.lit(bin_width)), F.lit(0)),
        F.lit(n_bins - 1),
    ).cast("int")
    from pyspark import StorageLevel

    # persisted: bins, ties, and per_group all consume the tiny cell
    # grid; without this each consumer re-scans the SOURCE relation
    cells = (
        pair.groupBy(F.col(group_col).alias("grp"), bin_.alias("bin"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bins = cells.groupBy("bin").agg(F.sum("c").cast("long").alias("t"))
    # one pinned-order fold over the sorted grid -> (bin, tm) rows,
    # tm = 2*cumBefore + t + 1 (twice the midrank, exact integer)
    grid1 = bins.agg(
        F.array_sort(F.collect_list(F.struct("bin", "t"))).alias("g")
    )
    mid_init = F.struct(
        F.lit(0).cast("long").alias("cum"),
        F.lit([]).cast("array<struct<bin:int,tm:bigint>>").alias("arr"),
    )
    mids = grid1.select(
        F.explode(
            F.aggregate(
                "g",
                mid_init,
                lambda acc, x: F.struct(
                    (acc["cum"] + x["t"]).alias("cum"),
                    F.concat(
                        acc["arr"],
                        F.array(
                            F.struct(
                                x["bin"].alias("bin"),
                                (
                                    F.lit(2) * acc["cum"] + x["t"] + F.lit(1)
                                ).alias("tm"),
                            )
                        ),
                    ).alias("arr"),
                ),
            )["arr"]
        ).alias("m")
    ).select(F.col("m.bin").alias("bin"), F.col("m.tm").alias("tm"))
    # grid-sized join (<= k*n_bins x n_bins) — AQE broadcasts it
    per_group = (
        cells.join(mids, "bin")
        .groupBy("grp")
        .agg(
            F.sum("c").cast("long").alias("n_g"),
            F.sum(F.col("c") * F.col("tm")).cast("long").alias("r2"),
        )
    )
    ties = bins.agg(
        F.array_sort(F.collect_list(F.struct("bin", "t"))).alias("g")
    ).select(
        F.aggregate(
            "g",
            F.lit(0.0),
            lambda a, x: a
            + (F.pow(x["t"].cast("double"), 3) - x["t"].cast("double")),
        ).alias("tie_sum")
    )
    one = per_group.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("n_g").cast("long").alias("n_total"),
        F.array_sort(F.collect_list(F.struct("grp", "n_g", "r2"))).alias("gs"),
    ).crossJoin(ties)
    # sum_g (R_g^2 / n_g), R_g = r2/2 — pinned group order
    s = F.aggregate(
        "gs",
        F.lit(0.0),
        lambda a, x: a
        + F.try_divide(
            (x["r2"].cast("double") / 2.0) * (x["r2"].cast("double") / 2.0),
            x["n_g"].cast("double"),
        ),
    )
    n_d = F.col("n_total").cast("double")
    h = F.try_divide(F.lit(12.0) * s, n_d * (n_d + 1.0)) - 3.0 * (n_d + 1.0)
    corr = F.lit(1.0) - F.try_divide(
        F.col("tie_sum"), F.pow(n_d, 3) - n_d
    )
    return one.select(
        "n_groups",
        "n_total",
        (F.col("n_groups") - F.lit(1)).cast("long").alias("dof"),
        F.round(h, 6).alias("h_stat"),
        F.round(F.try_divide(h, corr), 6).alias("h_tie_corrected"),
    )


def chi2_independence(df: DataFrame, row_col: str, col_col: str) -> DataFrame:
    """Chi-squared test of independence + Cramér's V over a contingency
    grid.

    Returns a 1-row frame ``(n_total, n_rows, n_cols, dof, chi2,
    cramers_v)``. One (row, col) keyed scan with map-side partials
    collapses the data to an R x C cell grid; margins are two grid-
    sized aggregates joined back (AQE-broadcast, never a forced
    hint), expected counts derive as ``rowTotal * colTotal / N`` and
    ``chi2 = sum (o - e)^2 / e`` folds in a PINNED (row, col) order
    over the collected grid, so the double result is partition- and
    engine-deterministic. Empty cells (a (row, col) combination never
    observed) still contribute ``(0 - e)^2 / e = e`` to the statistic;
    since expected counts sum to N over the FULL grid, that tail is
    the closed form ``N - sum_occupied(e)`` — no dense grid is ever
    materialized. ``cramers_v = sqrt(chi2 / (N * min(R-1,
    C-1)))`` with ``try_divide`` on degenerate 1xC / Rx1 grids. NULL
    category labels are excluded. Shuffled state is R x C cells
    regardless of row count. (EXT stats.)
    """
    pair = df.filter(
        F.col(row_col).isNotNull() & F.col(col_col).isNotNull()
    ).select(F.col(row_col).alias("r"), F.col(col_col).alias("cc"))
    from pyspark import StorageLevel

    # persisted: rt, ct, tot, and the margin join all consume the tiny
    # contingency grid; without this each re-scans the SOURCE relation
    cells = (
        pair.groupBy("r", "cc")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    rt = cells.groupBy("r").agg(F.sum("o").cast("long").alias("rtot"))
    ct = cells.groupBy("cc").agg(F.sum("o").cast("long").alias("ctot"))
    tot = cells.agg(F.sum("o").cast("long").alias("n_total"))
    j = cells.join(rt, "r").join(ct, "cc").crossJoin(tot)
    e = F.col("rtot").cast("double") * F.col("ctot") / F.col("n_total")
    term = F.pow(F.col("o").cast("double") - e, 2) / e
    one = j.agg(
        F.max("n_total").alias("n_total"),
        F.countDistinct("r").cast("long").alias("n_rows"),
        F.countDistinct("cc").cast("long").alias("n_cols"),
        F.array_sort(
            F.collect_list(
                F.struct("r", "cc", term.alias("term"), e.alias("e"))
            )
        ).alias("grid"),
    )
    # occupied-cell terms + the empty-cell tail N - sum_occupied(e)
    # (every empty cell contributes (0-e)^2/e = e and expected counts
    # sum to N over the full R x C grid)
    chi2 = (
        F.aggregate("grid", F.lit(0.0), lambda a, x: a + x["term"])
        + F.col("n_total").cast("double")
        - F.aggregate("grid", F.lit(0.0), lambda a, x: a + x["e"])
    )
    dof = (F.col("n_rows") - 1) * (F.col("n_cols") - 1)
    v = F.sqrt(
        F.try_divide(
            chi2,
            F.col("n_total").cast("double")
            * F.least(F.col("n_rows") - 1, F.col("n_cols") - 1).cast(
                "double"
            ),
        )
    )
    return one.select(
        "n_total",
        "n_rows",
        "n_cols",
        dof.cast("long").alias("dof"),
        F.round(chi2, 6).alias("chi2"),
        F.round(v, 6).alias("cramers_v"),
    )


def binary_classifier_eval(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    n_bins: int = 1000,
) -> DataFrame:
    """Binary-classifier evaluation in ONE scan: AUC, Brier, log-loss.

    Returns a 1-row frame ``(n_pos, n_neg, auc, brier, logloss)``.
    ``score_col`` must be a double in [0, 1] (values are clamped),
    ``label_col`` a boolean/0-1 column; NULL scores or labels are
    excluded.

    Scale shape: a single keyed scan bins scores onto a pinned
    ``n_bins``-cell grid carrying per-cell positive/negative counts
    AND the exact-decimal partial sums of the Brier and log-loss
    terms (decimal addition is associative, so per-cell partials
    re-sum to the exact global sum). AUC is the binned midrank
    rank-sum — ``U = sum_i pos_i * (cumNeg_<i + neg_i/2)``, AUC =
    U / (n_pos * n_neg) — the same tie treatment as
    :func:`mann_whitney_u`, folded in pinned bin order; with the
    default 1000 cells the quantization error is < 1e-3 on continuous
    scores and zero when scores are produced on a coarser grid.
    Brier = mean (s - y)^2 and logloss = -mean(y ln s + (1-y) ln(1-s))
    (scores clamped to [1e-15, 1-1e-15]) accumulate as exact decimals
    so results are partition-count- and engine-deterministic.
    Degenerate single-class inputs yield NULL auc via ``try_divide``.
    Shuffled state is n_bins cells regardless of row count. (EXT
    stats / model evaluation at corpus scale.)
    """
    eps = 1e-15
    s = F.least(F.greatest(F.col(score_col), F.lit(0.0)), F.lit(1.0))
    y = F.col(label_col).cast("int")
    pair = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    )
    bin_ = F.least(
        F.greatest(F.floor(s * F.lit(float(n_bins))), F.lit(0)),
        F.lit(n_bins - 1),
    ).cast("int")
    sc = F.least(F.greatest(s, F.lit(eps)), F.lit(1.0 - eps))
    ll_term = -(
        y.cast("double") * F.log(sc)
        + (F.lit(1.0) - y.cast("double")) * F.log(F.lit(1.0) - sc)
    )
    brier_term = F.pow(s - y.cast("double"), 2)
    cells = pair.groupBy(bin_.alias("bin")).agg(
        F.sum(y).cast("long").alias("pos"),
        F.sum(F.lit(1) - y).cast("long").alias("neg"),
        F.sum(brier_term.cast("decimal(30,12)")).alias("brier_part"),
        F.sum(ll_term.cast("decimal(30,12)")).alias("ll_part"),
    )
    one = cells.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
        F.sum("brier_part").cast("double").alias("brier_sum"),
        F.sum("ll_part").cast("double").alias("ll_sum"),
        F.array_sort(F.collect_list(F.struct("bin", "pos", "neg"))).alias(
            "grid"
        ),
    )
    u_init = F.struct(
        F.lit(0).cast("long").alias("cum_neg"),
        F.lit(0.0).alias("u"),
    )
    u = F.aggregate(
        "grid",
        u_init,
        lambda acc, x: F.struct(
            (acc["cum_neg"] + x["neg"]).alias("cum_neg"),
            (
                acc["u"]
                + x["pos"].cast("double")
                * (acc["cum_neg"].cast("double") + x["neg"].cast("double") / 2.0)
            ).alias("u"),
        ),
    )["u"]
    n = (F.col("n_pos") + F.col("n_neg")).cast("double")
    return one.select(
        "n_pos",
        "n_neg",
        F.round(
            F.try_divide(u, F.col("n_pos").cast("double") * F.col("n_neg")),
            6,
        ).alias("auc"),
        F.round(F.col("brier_sum") / n, 6).alias("brier"),
        F.round(F.col("ll_sum") / n, 6).alias("logloss"),
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram bins: per score-decile observed vs predicted.

    Returns ``n_bins`` rows ``(bin, n, mean_score, frac_pos)`` — the
    companion diagnostic to :func:`binary_classifier_eval` (a
    well-calibrated model has mean_score ~= frac_pos per bin). One
    keyed scan with map-side partials; mean_score sums as exact
    decimals, frac_pos is a ratio of exact integer counts, both
    rounded to 6 dp — partition- and engine-deterministic. NULL
    scores/labels excluded; scores clamped to [0, 1]. Output is
    n_bins rows regardless of input size. (EXT stats.)
    """
    s = F.least(F.greatest(F.col(score_col), F.lit(0.0)), F.lit(1.0))
    y = F.col(label_col).cast("int")
    pair = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    )
    bin_ = F.least(
        F.greatest(F.floor(s * F.lit(float(n_bins))), F.lit(0)),
        F.lit(n_bins - 1),
    ).cast("int")
    return (
        pair.groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.sum(s.cast("decimal(30,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_score"),
            F.round(
                F.sum(y).cast("double") / F.count(F.lit(1)), 6
            ).alias("frac_pos"),
        )
        .orderBy("bin")
    )


#: ``monotonically_increasing_id`` packs ``partition << 33 | local row``.
_MID_ROW_BITS = 33


def _decode_mid(df: DataFrame) -> DataFrame:
    """Append ``_pid`` (int partition id) and ``_lr`` (1-based long local
    row) decoded from ``_mid``, a ``monotonically_increasing_id`` stamped
    after a within-partition sort.

    Spark keeps the partition id in the upper 31 bits and the row index
    in the lower 33, so one partition holds at most 2^33 rows; past that
    the row index carries into the partition id and both decode wrong.
    Partition ids >= 2^30 set the sign bit, so the shift is unsigned.
    """
    return df.withColumn(
        "_pid", F.shiftrightunsigned("_mid", _MID_ROW_BITS).cast("int")
    ).withColumn(
        "_lr",
        F.col("_mid").bitwiseAND(F.lit((1 << _MID_ROW_BITS) - 1)) + F.lit(1),
    )


def global_row_numbers(
    df: DataFrame,
    order_cols: list,
    *,
    num_partitions: int = 32,
    out_col: str = "i",
) -> DataFrame:
    """Exact global row numbers 1..n over a total order, distributed.

    ``Window.orderBy`` without ``partitionBy`` funnels every row
    through ONE task — fine for a laptop, a wall at 100 TB. This is
    the standard two-phase formulation: range-partition on the order
    key (so partition p holds strictly smaller keys than p+1), rank
    locally within each partition, then add per-partition prefix
    offsets computed from a partition-count-sized counts relation
    (joined back AQE-broadcast). Every stage is distributed; the only
    serial object is the <= num_partitions-row offsets relation.

    ``order_cols`` must be a TOTAL order (include a unique tiebreak
    column) — with duplicate keys the assignment of equal rows to
    range-partition boundaries is not deterministic. Entries may be
    column names or sort-ordered Columns (``F.desc("x")``); Spark's
    default NULL placement for the given direction applies and is
    consistent across all three internal stages.

    Returns ``df`` with ``out_col`` appended (long, 1-based). Exact:
    the numbering is a pure function of the total order, independent
    of where the range sampler places partition boundaries.
    """
    return global_running_sums(
        df, order_cols, {}, num_partitions=num_partitions, row_col=out_col
    )


def grouped_row_numbers(
    df: DataFrame,
    group_cols: list,
    order_cols: list,
    *,
    num_partitions: int = 32,
    out_col: str = "i",
) -> DataFrame:
    """Exact per-group row numbers 1..n_g, distributed — the scale-safe
    replacement for ``row_number().over(Window.partitionBy(g)
    .orderBy(o))`` when single groups outgrow one task (a handful of
    query ids ranking a whole corpus each: the partitioned window is
    lint-clean but still funnels |corpus| rows per group through one
    task).

    Formulation (round-13 one-pass shape, guide §2.4): range-partition
    + sort on the composite total order (group columns ascending, then
    ``order_cols``) — every group's rows are CONTIGUOUS both globally
    and within each range partition — then ONE aggregate over the
    persisted relation collects, per (partition, group) block, the row
    count and the first local row. Everything else derives on that
    tiny (≤ num_partitions + |groups| − 1 row) block relation: the
    global rows preceding a block are a running count over the
    (partition, first-row) order, a block's group offset is the min of
    that running count over its group (contiguity: earlier groups in
    the same partition are exactly the local rows before the block),
    and a row's per-group rank is its local row number plus its
    block's adjustment. One full-data aggregate pass and ONE join
    against the data (the round-12 shape paid two aggregate passes and
    two joins, each a full hashpartition Exchange + Sort in the static
    plan).

    The block-relation attach is deliberately UNHINTED (measured,
    round 13): forcing ``F.broadcast`` on it (and on the per-partition
    offsets) made every hybrid consumer ~10% SLOWER at sf0.1 in the
    bench's own isolated protocol — each BroadcastExchange is a
    blocking driver-collect job whose upstream chain must finish
    before the probe side can even be scheduled, while AQE overlaps
    both sides' map stages and converts the join to a runtime
    broadcast anyway (the block relation is tiny at any scale). The
    residual cost AQE leaves is one map-side shuffle write of the
    ranked relation, overlapped with the block-side work.

    ``order_cols`` must be total WITHIN each group (unique tiebreak).
    ``group_cols`` are plain column names. Returns ``df`` with
    ``out_col`` appended (long, 1-based within each group). NULL group
    keys are dropped by the equi-join, as in every prior formulation.

    The range-partitioned relation is persisted ``MEMORY_AND_DISK``
    (the block aggregate and the final join both read it), and the
    persist outlives the call: the returned relation is lazy and still
    reads it. It is released by the session's
    ``spark.catalog.clearCache()``, or by an unpersist once the
    caller's own action has run.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    composite = [F.asc(c) for c in group_cols] + [
        F.col(c) if isinstance(c, str) else c for c in order_cols
    ]
    r0 = _decode_mid(
        df.repartitionByRange(num_partitions, *composite)
        .sortWithinPartitions(*composite)
        .withColumn("_mid", F.monotonically_increasing_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # ONE pass: per-(partition, group) block -> (row count, first local
    # row). Blocks are contiguous, so the relation has at most
    # num_partitions + |groups| - 1 rows.
    gt = r0.groupBy("_pid", *group_cols).agg(
        F.count(F.lit(1)).alias("_c"), F.min("_lr").alias("_minlr")
    )
    # Block-relation arithmetic (never touches the data again): a
    # block's global predecessor count _cum = rows in earlier
    # partitions (+ earlier groups' rows in this partition = _minlr-1,
    # by contiguity); a block's group offset is min(_cum) over its
    # group (its group's FIRST block). The only single-task object is
    # the <= num_partitions-row per-partition totals (the same bounded
    # prefix-sum global_running_sums uses); the per-group min runs as
    # a PARTITIONED window over <= num_partitions blocks per group, so
    # a data-proportional group column stays distributed.
    w_pid = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    pid_off = (
        gt.groupBy("_pid")
        .agg(F.sum("_c").alias("_c"))
        .select(
            "_pid",
            F.coalesce(F.sum("_c").over(w_pid), F.lit(0)).alias("_off_c"),
        )
    )
    w_grp = Window.partitionBy(*group_cols)
    adj = (
        gt.join(pid_off, "_pid")
        .withColumn("_cum", F.col("_off_c") + F.col("_minlr") - 1)
        .withColumn("_goff", F.min("_cum").over(w_grp))
        .select(
            "_pid",
            *group_cols,
            (F.col("_cum") - F.col("_minlr") + 1 - F.col("_goff")).alias(
                "_adj"
            ),
        )
    )
    return (
        r0.join(adj, ["_pid", *group_cols])
        .withColumn(out_col, (F.col("_adj") + F.col("_lr")).cast("long"))
        .drop("_pid", "_mid", "_lr", "_adj")
    )


def global_running_sums(
    df: DataFrame,
    order_cols: list,
    sums: dict,
    *,
    num_partitions: int = 32,
    row_col: str | None = None,
) -> DataFrame:
    """Exact inclusive running sums over a total order, distributed.

    The scale-safe replacement for ``F.sum(v).over(Window.orderBy(...)
    .rowsBetween(unboundedPreceding, currentRow))``, which funnels the
    whole relation through ONE task. Same two-phase shape as
    :func:`global_row_numbers` (this is the shared core): range-
    partition on the order key, compute per-partition totals, prefix-
    sum them over the <= num_partitions-row totals relation, then add
    each partition's offset to its local running sums. Every stage is
    distributed; results are exact because integer addition is
    associative (use exact types — longs/decimals — for the summed
    columns; float running sums are order-sensitive by nature and get
    the same left-to-right order a single-task window would give only
    within a partition).

    ``sums`` maps output column name -> column (name or Column) to
    running-sum. ``row_col`` optionally also emits the 1-based global
    row number. ``order_cols`` must be a total order (unique
    tiebreak); entries may be names or sort-ordered Columns.

    NULL semantics match the single-task window exactly: a running sum
    is NULL iff the global prefix up to and including the row holds no
    non-NULL value (``SUM`` skips NULLs, and an all-NULL prefix sums
    to NULL). The per-partition running sum alone is NULL whenever the
    LOCAL prefix is all-NULL, so the combine tracks a running non-NULL
    count and coalesces the two addends — without it, ``offset +
    NULL`` would wrongly blank rows whose partition starts with NULLs
    even though earlier partitions contributed real values.

    Physical shape (round-12 optimization; guide §2.4): the local row
    number and partition id are decoded from
    ``monotonically_increasing_id`` stamped AFTER the within-partition
    sort (the classic zipWithIndex idiom: id = pid << 33 | local row
    index), which removes the hashpartition Exchange + re-Sort +
    Window that the per-partition ``row_number`` formulation paid over
    the persisted relation (its range partitioning is opaque to the
    window planner) — one full-data shuffle and sort fewer per rank
    call. The running-SUMS path still needs the per-partition
    cumulative window; the rank-only path (every
    ``global_row_numbers``/``grouped_row_numbers`` caller) is
    window-free. One range partition is capped at 2^33 rows — raise
    ``num_partitions`` long before that at scale. The persist (not a
    localCheckpoint) is deliberate: a checkpoint would truncate the
    plan to a LogicalRDD, and the checkpointed subtree compiles
    WITHOUT adaptive execution and with unknown stats — measured
    1.4 s -> 3.3 s on search_hybrid_rrf when round 12 tried it; the
    InMemoryRelation keeps AQE, cache statistics and the visible plan
    tree (the repeated subtrees in explain output are display-level:
    the cache is built once). The persist outlives the call (the
    returned relation is lazy and still reads it); it is released by
    the session's ``spark.catalog.clearCache()``, or by an unpersist
    once the caller's own action has run.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    order_exprs = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    val_exprs = {
        out: (F.col(c) if isinstance(c, str) else c) for out, c in sums.items()
    }
    r0 = _decode_mid(
        df.repartitionByRange(num_partitions, *order_exprs)
        .sortWithinPartitions(*order_exprs)
        .withColumn("_mid", F.monotonically_increasing_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    totals = r0.groupBy("_pid").agg(
        F.count(F.lit(1)).alias("_c"),
        *[F.sum(v).alias(f"_s_{out}") for out, v in val_exprs.items()],
        # per-partition non-NULL count, for the exact NULL semantics of
        # the combine step (F.count(col) skips NULLs)
        *[F.count(v).alias(f"_nn_{out}") for out, v in val_exprs.items()],
    )
    # prefix-sum over the tiny (<= num_partitions rows) totals relation
    off_w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_pid",
        F.coalesce(F.sum("_c").over(off_w), F.lit(0)).alias("_off_c"),
        *[
            F.coalesce(F.sum(f"_s_{out}").over(off_w), F.lit(0)).alias(
                f"_off_{out}"
            )
            for out in val_exprs
        ],
        *[
            F.coalesce(F.sum(f"_nn_{out}").over(off_w), F.lit(0)).alias(
                f"_offnn_{out}"
            )
            for out in val_exprs
        ],
    )
    out = r0
    if val_exprs:
        # cumulative sums still need the per-partition ordered window;
        # _mid is a faithful proxy for the (already sorted) row order,
        # so ordering by it avoids re-evaluating multi-column sort keys
        local_w = Window.partitionBy("_pid").orderBy("_mid")
        run_w = local_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        for name, v in val_exprs.items():
            out = out.withColumn(f"_run_{name}", F.sum(v).over(run_w))
            out = out.withColumn(f"_runnn_{name}", F.count(v).over(run_w))
    # No broadcast hint on offsets (measured, round 13): it is
    # <= num_partitions rows by construction, but forcing the hint made
    # every chained-rank consumer ~0.3-0.5 s SLOWER at sf0.1
    # (events_rfm_segments probes 1.3 -> 1.7 s): the BroadcastExchange
    # serializes a driver collect per rank call, while AQE already
    # converts the unhinted join to a broadcast with a local shuffle
    # read at runtime. The grouped rank path leaves its block relations
    # unhinted for the same reason — see grouped_row_numbers.
    out = out.join(offsets, "_pid")
    if row_col is not None:
        out = out.withColumn(
            row_col, (F.col("_off_c") + F.col("_lr")).cast("long")
        )
    for name in val_exprs:
        # NULL iff the global prefix has no non-NULL value; otherwise
        # offset + local running sum with each all-NULL side as 0
        # (matches SUM-skips-NULLs single-task window semantics).
        out = out.withColumn(
            name,
            F.when(
                F.col(f"_offnn_{name}") + F.col(f"_runnn_{name}") == 0,
                F.lit(None),
            ).otherwise(
                F.coalesce(F.col(f"_off_{name}"), F.lit(0))
                + F.coalesce(F.col(f"_run_{name}"), F.lit(0))
            ),
        ).drop(f"_off_{name}", f"_run_{name}", f"_offnn_{name}", f"_runnn_{name}")
    return out.drop("_pid", "_off_c", "_mid", "_lr")


def _exact_int_div(a, b):
    """Exact integer division for non-negative longs below 2**53.

    ``a - a % b`` is exactly divisible by ``b``; IEEE division of two
    exactly-representable longs whose true quotient is an integer
    below 2**53 is exact (correctly-rounded result IS the true
    result) — so this never suffers the float-boundary flips that
    banned floating log10 from the digit plans.
    """
    return ((a - a % b) / b).cast("long")


def ntile_from_rank(rank, n, num_tiles: int):
    """NTILE(k) derived from an exact global rank and a total count.

    Standard SQL NTILE semantics (what both Spark and DuckDB
    implement): with ``n`` rows and ``k`` tiles, the first ``n % k``
    tiles hold ``n div k + 1`` rows, the rest ``n div k``. Given the
    1-based ``rank`` (from :func:`global_row_numbers` — distributed,
    never a single-task window) and the 1-row count ``n``, the tile
    is a pure per-row expression, so the classic
    ``ntile(k).over(Window.orderBy(...))`` single-task funnel is
    never needed. All arithmetic is exact-integer (see
    :func:`_exact_int_div`). Returns an INT column, 1-based, matching
    ``F.ntile(k)`` bit-for-bit (differential-tested).
    """
    k = F.lit(num_tiles).cast("long")
    rank = rank.cast("long")
    n = n.cast("long")
    base = _exact_int_div(n, k)  # rows in each small tile
    rem = n % k  # number of big tiles
    big_rows = rem * (base + F.lit(1))  # rows covered by big tiles
    # ceil(a/b) = (a + b - 1) div b; guard base=0 (n < k: every row is
    # its own tile and only the first branch is ever selected, but ANSI
    # mode evaluates both branches — greatest() keeps the dead branch's
    # modulus nonzero)
    in_big = _exact_int_div(rank + base, base + F.lit(1))
    safe_base = F.greatest(base, F.lit(1))
    in_small = rem + _exact_int_div(
        rank - big_rows + safe_base - F.lit(1), safe_base
    )
    return (
        F.when(rank <= big_rows, in_big).otherwise(in_small).cast("int")
    )


def kaplan_meier_lifetimes(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    *,
    censor_days: int = 7,
) -> DataFrame:
    """Kaplan-Meier survival curve of per-user activity lifetimes.

    Lifetime = whole days between a user's first and last event. A
    user whose last event falls within ``censor_days`` of the global
    max timestamp is RIGHT-CENSORED (still alive at observation end) —
    the distinction a plain lifetime ECDF gets wrong, and the reason
    retention numbers computed without censoring are biased low near
    the corpus edge.

    Estimator (standard product-limit, deaths before censorings at
    equal times): with d_t deaths and c_t censorings at lifetime t and
    ``n_risk(t) = N - sum_{s<t} (d_s + c_s)``,
    ``S(t) = prod_{s<=t} (1 - d_s/n_s)``. Returns one row per
    OCCUPIED lifetime ``(t, n_risk, d, c, surv)``, surv rounded 6 dp.

    Scale shape: one keyed scan collapses events to per-user
    (first, last) pairs; the global max is a 1-row aggregate; the
    (lifetime -> d, c) grid is bounded by the corpus time span in
    days — time-proportional, never data-proportional; the survival
    product folds over the sorted grid in one pinned left-to-right
    pass (mirrored token-for-token by the DuckDB oracle), so the
    double result is partition- and engine-deterministic.
    ``try_divide`` yields NULL surv if n_risk hits 0. NULL users/
    timestamps excluded. (EXT stats/survival.)
    """
    from pyspark import StorageLevel

    pu = (
        df.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .groupBy(F.col(user_col).alias("u"))
        .agg(
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    gmax = pu.agg(F.max("last_ts").alias("g"))
    lt = F.datediff(F.col("last_ts"), F.col("first_ts"))
    cens = F.datediff(F.col("g"), F.col("last_ts")) < F.lit(censor_days)
    grid = (
        pu.crossJoin(F.broadcast(gmax))
        .select(lt.alias("t"), cens.cast("int").alias("is_c"))
        .groupBy("t")
        .agg(
            F.sum(F.lit(1) - F.col("is_c")).cast("long").alias("d"),
            F.sum("is_c").cast("long").alias("c"),
        )
    )
    one = grid.agg(
        F.sum(F.col("d") + F.col("c")).cast("long").alias("n0"),
        F.array_sort(F.collect_list(F.struct("t", "d", "c"))).alias("g"),
    )
    fold_init = F.struct(
        F.lit(0).cast("long").alias("gone"),
        F.lit(1.0).alias("s"),
        F.lit([]).cast(
            "array<struct<t:int,n_risk:bigint,d:bigint,c:bigint,surv:double>>"
        ).alias("arr"),
    )
    def _step(acc, x):
        n_risk = F.col("n0") - acc["gone"]
        s_new = acc["s"] * (
            F.lit(1.0)
            - F.try_divide(x["d"].cast("double"), n_risk.cast("double"))
        )
        return F.struct(
            (acc["gone"] + x["d"] + x["c"]).alias("gone"),
            s_new.alias("s"),
            F.concat(
                acc["arr"],
                F.array(
                    F.struct(
                        x["t"].cast("int").alias("t"),
                        n_risk.alias("n_risk"),
                        x["d"].alias("d"),
                        x["c"].alias("c"),
                        s_new.alias("surv"),
                    )
                ),
            ).alias("arr"),
        )

    return (
        one.select(F.explode(F.aggregate("g", fold_init, _step)["arr"]).alias("r"))
        .select(
            F.col("r.t").alias("t"),
            F.col("r.n_risk").alias("n_risk"),
            F.col("r.d").alias("d"),
            F.col("r.c").alias("c"),
            F.round(F.col("r.surv"), 6).alias("surv"),
        )
        .orderBy("t")
    )


def cusum_changepoint(
    df: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group CUSUM changepoint scan over an ordered series.

    LIBRARY-ONLY this round: the round-7 attestation window is fully
    allocated to must-attest changes, and a plan must be attested the
    round it registers — its registry plan (+ DuckDB oracle: the same
    grid CTE family as events_autocorrelation, with the fold mirrored
    by a window-list list_reduce) takes a round-8 window slot, the
    same queue discipline mann_whitney_u used in round 5.

    For each group, standardizes the series against the group mean/std
    (exact-decimal moments, double only at the end) and folds the
    cumulative sum ``S_t = sum_{i<=t} (x_i - mean)/std`` in pinned
    time order; the changepoint estimate is the t maximizing ``|S_t|``
    (earliest t on ties — a total, deterministic rule) and the
    statistic is ``max|S| / sqrt(n)`` (compare against ~1.36 for the
    5% Kolmogorov bound). Returns one row per group:
    ``(<group_col>, n_points, cp_time, cusum_stat)``; groups with
    zero variance or a single point yield NULL stat via ``try_divide``.
    NULL times/values excluded.

    Scale shape: callers pass a PRE-AGGREGATED series (e.g. the daily
    count grid — time-proportional, never data-proportional); one
    keyed scan computes the moments, one collect_list-per-group fold
    scans the series in order. The per-group series must fit a single
    aggregation buffer — true by construction for calendar grids.
    (EXT stats/monitoring.)
    """
    pair = df.filter(
        F.col(group_col).isNotNull()
        & F.col(time_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("g"),
        F.col(time_col).alias("t"),
        F.col(value_col).cast("decimal(30,6)").alias("x"),
    )
    agg = pair.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sx2"),
        F.array_sort(F.collect_list(F.struct("t", "x"))).alias("ser"),
    )
    n_d = F.col("n_points").cast("double")
    mean = F.col("sx") / n_d
    # sample std from exact moments; NULL for n=1 or zero variance
    var = F.try_divide(
        F.col("sx2") - F.col("sx") * F.col("sx") / n_d, n_d - 1.0
    )
    std = F.sqrt(var)
    fold_init = F.struct(
        F.lit(0.0).alias("s"),
        F.lit(0.0).alias("best"),
        F.lit(None).cast("timestamp").alias("cp"),
    )

    def _step(acc, row):
        s_new = acc["s"] + F.try_divide(
            row["x"].cast("double") - mean, std
        )
        better = F.abs(s_new) > acc["best"]
        return F.struct(
            s_new.alias("s"),
            F.when(better, F.abs(s_new)).otherwise(acc["best"]).alias("best"),
            F.when(better, row["t"].cast("timestamp"))
            .otherwise(acc["cp"])
            .alias("cp"),
        )

    folded = F.aggregate("ser", fold_init, _step)
    # gate on positive variance: a zero-variance or single-point group
    # folds every z-term to NULL and would otherwise report stat 0.0 —
    # NULL is the honest "undefined" (cp_time is NULL there too)
    ok = var > F.lit(0.0)
    return agg.select(
        F.col("g").alias(group_col),
        "n_points",
        F.when(ok, folded["cp"]).alias("cp_time"),
        F.when(
            ok, F.round(F.try_divide(folded["best"], F.sqrt(n_d)), 6)
        ).alias("cusum_stat"),
    )
