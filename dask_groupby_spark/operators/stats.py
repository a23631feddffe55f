"""Grouped bivariate statistics and distribution-drift scoring.

No flox counterpart (its reductions are all univariate — SURVEY.md §2.1);
this is Spark-native surface in the training-pipeline family: feature
correlation / linear-fit per group for data-card QA, and Population
Stability Index (PSI) for detecting drift between two corpus snapshots
(e.g. last month's crawl vs this month's) before a retrain.

Everything here is pure Column expressions over built-in JVM aggregates
(``corr`` / ``covar_*`` / ``regr_*`` are Catalyst ImperativeAggregates
with map-side partial merge), so the plans are the same
partial-agg → Exchange(by) → final-agg shape as every reduction in
``aggregations.py`` — one shuffle of group-level sufficient statistics,
no Python anywhere.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..core import nullsafe_join

__all__ = [
    "calibration_bins",
    "grouped_auc",
    "flag_outliers",
    "grouped_bivariate",
    "grouped_chisq",
    "grouped_ks",
    "grouped_mad",
    "grouped_spearman",
    "grouped_ttest",
    "population_stability",
    "quantile_normalize",
]


def _safe_corr(x: Column, y: Column) -> Column:
    """Pearson correlation that returns NULL for degenerate groups
    (n < 2 or zero variance) instead of raising: Spark 4's ANSI mode
    makes the built-in ``corr`` throw DIVIDE_BY_ZERO there (unlike the
    ``regr_*`` family, which nulls).  ``covar_pop / (σx · σy)`` under
    ``try_divide`` is algebraically identical, uses the same
    Welford-merge ImperativeAggregates (so partial aggregation and the
    single-Exchange plan are unchanged), and matches DuckDB's NULL."""
    return F.try_divide(
        F.covar_pop(x, y), F.stddev_pop(x) * F.stddev_pop(y)
    )


def uniform_bin(col: Column, lo: float, hi: float, bins: int) -> Column:
    """THE uniform-binning convention shared by ``hist_sketch_table``
    and :func:`calibration_bins`: ``floor((x − lo)/width)`` clamped into
    the edge bins — one definition, so sketch-table bins and
    calibration bins can never drift out of alignment."""
    b = F.floor((col - F.lit(float(lo))) / F.lit((hi - lo) / bins))
    # explicit NULL/NaN -> NULL: greatest/least SKIP null arguments and
    # least() treats NaN as the LARGEST double, so either missing form
    # would otherwise clamp into the TOP bin (r9 review + meta-review)
    return F.when(
        col.isNotNull() & ~F.isnan(col.cast("double")),
        F.greatest(F.lit(0), F.least(F.lit(bins - 1), b)),
    ).cast("int")


def _clean(c: str) -> Column:
    """NULL out NaN so the pairwise-deletion semantics of corr/covar
    (skip a row when EITHER side is missing) treat NaN as missing —
    matching numpy's nan* family and DuckDB (whose doubles from parquet
    carry NULL, not NaN, for missing)."""
    col = F.col(c)
    return F.when(~F.isnan(col.cast("double")), col.cast("double"))


def grouped_bivariate(
    df: DataFrame,
    by: str | Sequence[str],
    x: str,
    y: str,
) -> DataFrame:
    """Per-group bivariate summary of ``(x, y)``: pairwise count,
    Pearson correlation, sample/population covariance, and the OLS fit
    of ``y`` on ``x`` (slope, intercept, r²).

    One fused aggregate — all seven statistics share the scan and a
    single Exchange on ``by`` (each is a sufficient-statistics
    aggregate: n, Σx, Σy, Σxx, Σyy, Σxy — Catalyst merges the partials
    map-side, so the shuffle carries one small state row per group per
    map partition regardless of data size).

    Rows where either side is NULL **or NaN** are excluded (pairwise
    deletion, numpy ``nan*`` semantics).  Groups with fewer than two
    complete pairs yield NULL corr/slope (zero variance ⇒ undefined),
    matching both Spark's and DuckDB's built-ins.
    """
    keys = [by] if isinstance(by, str) else list(by)
    cx, cy = _clean(x), _clean(y)
    # null either side when the other is missing => every aggregate sees
    # exactly the complete-pair subset (corr/covar/regr already do
    # pairwise deletion internally, but regr_count counts (y,x) pairs —
    # make the contract explicit and uniform).
    both = cx.isNotNull() & cy.isNotNull()
    px = F.when(both, cx)
    py = F.when(both, cy)
    return df.groupBy(*keys).agg(
        F.count(px).alias("n"),
        _safe_corr(px, py).alias("corr"),
        F.covar_samp(px, py).alias("covar_samp"),
        F.covar_pop(px, py).alias("covar_pop"),
        F.regr_slope(py, px).alias("slope"),
        F.regr_intercept(py, px).alias("intercept"),
        F.regr_r2(py, px).alias("r2"),
    )


def grouped_spearman(
    df: DataFrame,
    by: str | Sequence[str],
    x: str,
    y: str,
    method: str = "window",
    rows_per_chunk: int = 2_000_000,
) -> DataFrame:
    """Per-group Spearman rank correlation of ``(x, y)`` — the
    robust-to-outliers / monotonic-association companion to
    :func:`grouped_bivariate` (heavy-tailed quality scores and doc
    lengths make Pearson nearly useless on web corpora).

    Ties get average (fractional) ranks — scipy ``spearmanr`` semantics:
    ``avg_rank = min_rank + (|ties| - 1) / 2``, built from ``rank()``
    plus a per-(group, value) count.  Both rank transforms partition the
    windows by ``by``, so Catalyst plans ONE Exchange on the group keys
    and re-sorts within partitions for each ordering — no extra shuffle
    vs Pearson, just two in-partition sorts, then the same fused
    ``corr`` aggregate (which needs no further Exchange: the data is
    already partitioned by ``by``).

    Rows where either side is NULL/NaN are excluded BEFORE ranking
    (pairwise deletion on the complete-pair subset, as scipy does).
    """
    keys = [by] if isinstance(by, str) else list(by)
    cx, cy = _clean(x), _clean(y)
    ranked = df.select(*keys, cx.alias("__x"), cy.alias("__y")).where(
        F.col("__x").isNotNull() & F.col("__y").isNotNull()
    )
    if method == "two_pass":
        # average ranks via the chunked rank tier (r8) — a huge group's
        # two rank passes no longer serialize onto one task each
        from ..core import groupby_rank

        for c in ("__x", "__y"):
            ranked = groupby_rank(
                ranked, *keys, value=c, method="average", alias=f"{c}r",
                execution="two_pass", rows_per_chunk=rows_per_chunk,
            )
    elif method == "window":
        for c in ("__x", "__y"):
            wr = Window.partitionBy(*keys).orderBy(c)
            wt = Window.partitionBy(*keys, c)
            ranked = ranked.withColumn(
                f"{c}r",
                F.rank().over(wr) + (F.count(F.lit(1)).over(wt) - 1) / 2.0,
            )
    else:
        raise ValueError(f"method must be 'window' or 'two_pass', got {method!r}")
    return ranked.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        _safe_corr(F.col("__xr"), F.col("__yr")).alias("spearman"),
    )


def _bin_index(col: Column, breaks: Sequence[float]) -> Column:
    """0-based bin index for explicit interior ``breaks``: values below
    ``breaks[0]`` → 0, ≥ ``breaks[-1]`` → ``len(breaks)`` (left-closed
    bins, under/overflow kept as the edge bins — a drift score must see
    mass ESCAPING the historical range, so PSI never drops rows the way
    histogram binning does)."""
    idx: Column = F.lit(0)
    for b in breaks:
        idx = idx + (col >= F.lit(float(b))).cast("int")
    return idx


def population_stability(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    breaks: Sequence[float],
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between a reference snapshot and a
    current snapshot of ``col``, over explicit bin ``breaks``: one row
    per bin ``(bin, ref_frac, cur_frac, psi_term)`` with
    ``psi_term = (p - q) · ln(p / q)`` (``p``/``q`` = eps-smoothed
    fractions).  ``PSI = Σ psi_term``; the conventional reading is
    < 0.1 stable, 0.1–0.25 moderate shift, > 0.25 retrain.

    Scale shape: each snapshot collapses to ≤ ``len(breaks)+1`` rows via
    one map-combined count aggregate (binning is a pure projection, so
    the scan-side work is a single pass each); the normalising totals
    and the ref⊔cur alignment then run on those tiny bin tables — an
    unpartitioned window over ≤ a few hundred rows and a broadcast-sized
    outer join.  Nothing downstream of the two scans depends on data
    size.  NULL/NaN rows are excluded on both sides (they are a
    *different* drift signal — track them with :func:`table_profile`).

    ``breaks`` should come from the REFERENCE distribution (e.g. its
    deciles via ``approx_quantile``) so the expected fractions are
    ~uniform; the function takes them explicitly to keep the two scans
    independent and the oracle deterministic.
    """
    if not breaks:
        raise ValueError("breaks must be non-empty")
    bs = [float(b) for b in breaks]
    if bs != sorted(bs):
        raise ValueError("breaks must be ascending")

    def _bins(df: DataFrame, out: str) -> DataFrame:
        c = _clean(col)
        binned = df.select(_bin_index(c, bs).alias("bin")).where(
            c.isNotNull()
        )
        counts = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
        # unpartitioned window over <= len(breaks)+1 rows — bounded
        total = F.sum("cnt").over(Window.partitionBy())
        return counts.select("bin", (F.col("cnt") / total).alias(out))

    p, q = _bins(ref, "ref_frac"), _bins(cur, "cur_frac")
    return psi_terms(p, q, eps=eps)


def psi_terms(
    p: DataFrame,
    q: DataFrame,
    by: Sequence[str] = (),
    eps: float = 1e-6,
) -> DataFrame:
    """Align two per-bin fraction tables (``(by…, bin, ref_frac)`` /
    ``(by…, bin, cur_frac)``) and compute the eps-smoothed PSI term per
    bin — the shared tail of :func:`population_stability` and
    :func:`~dask_groupby_spark.operators.sketches.psi_from_histograms`
    (ONE definition of the smoothing convention, so the batch and
    incremental paths cannot drift apart).  Bins absent from one side
    get fraction 0 before smoothing.  The key match is NULL-SAFE (the
    module invariant stated at grouped_ttest/grouped_mad): a NULL-key
    segment's ref and cur rows must pair up, not split into two
    half-rows whose phantom 0-fractions read as massive drift."""
    keys = [by] if isinstance(by, str) else list(by)
    # string-qualified refs, not DataFrame[col]: p and q may share lineage
    # (e.g. psi_from_histograms(h, h)) and unqualified columns would be
    # ambiguous under the self-join analyzer
    pa_, qa = p.alias("__p"), q.alias("__q")
    pc, qc = (lambda c: F.col(f"__p.{c}")), (lambda c: F.col(f"__q.{c}"))
    cond = pc("bin").eqNullSafe(qc("bin"))
    for k in keys:
        cond = cond & pc(k).eqNullSafe(qc(k))
    joined = pa_.join(qa, cond, how="full").select(
        *[F.coalesce(pc(k), qc(k)).alias(k) for k in keys],
        F.coalesce(pc("bin"), qc("bin")).alias("bin"),
        F.coalesce("ref_frac", F.lit(0.0)).alias("ref_frac"),
        F.coalesce("cur_frac", F.lit(0.0)).alias("cur_frac"),
    )
    ps = F.greatest(F.col("ref_frac"), F.lit(float(eps)))
    qs = F.greatest(F.col("cur_frac"), F.lit(float(eps)))
    return joined.withColumn("psi_term", (ps - qs) * F.log(ps / qs))


def grouped_ttest(
    ref: DataFrame,
    cur: DataFrame,
    by: str | Sequence[str],
    col: str,
) -> DataFrame:
    """Per-group Welch two-sample t-test between a reference and a
    current snapshot of ``col`` — the per-segment companion to
    :func:`population_stability` (PSI says a marginal distribution
    moved; this says WHICH groups' means moved, with unequal variances
    allowed, which is the realistic case across corpus segments).

    Returns one row per group present in BOTH snapshots:
    ``(by…, n_ref, n_cur, mean_ref, mean_cur, t_stat, df)`` with
    Welch's ``t = (m₁−m₂)/√(s₁²/n₁+s₂²/n₂)`` and Welch–Satterthwaite
    degrees of freedom.  Groups where either side has < 2 complete
    values (or zero variance on both sides) yield NULL ``t_stat``/``df``
    rather than an error — ANSI-safe via ``try_divide``.

    Scale shape: each snapshot collapses to one (n, Σ-free mean,
    var_samp) row per group in a single map-combined aggregate; the
    join runs on those group-level rows (broadcast-sized for any sane
    group count, and AQE picks that up).  NULL/NaN values are excluded
    per side (numpy ``nan*`` semantics via the shared cleaner).
    """
    keys = [by] if isinstance(by, str) else list(by)

    def _side(df: DataFrame, tag: str) -> DataFrame:
        c = _clean(col)
        return df.groupBy(*keys).agg(
            F.count(c).alias(f"n_{tag}"),
            F.avg(c).alias(f"mean_{tag}"),
            F.var_samp(c).alias(f"var_{tag}"),
        )

    # null-SAFE key equality: a NULL-key group present in both snapshots
    # must survive the join (plain `on=keys` equality would drop it,
    # inconsistently with grouped_bivariate/grouped_ks on the same data)
    j = nullsafe_join(_side(ref, "ref"), _side(cur, "cur"), keys)
    se_ref = F.try_divide(F.col("var_ref"), F.col("n_ref"))
    se_cur = F.try_divide(F.col("var_cur"), F.col("n_cur"))
    se2 = se_ref + se_cur
    t = F.try_divide(F.col("mean_ref") - F.col("mean_cur"), F.sqrt(se2))
    dof = F.try_divide(
        se2 * se2,
        F.try_divide(se_ref * se_ref, F.col("n_ref") - 1)
        + F.try_divide(se_cur * se_cur, F.col("n_cur") - 1),
    )
    return j.select(
        *keys,
        "n_ref",
        "n_cur",
        "mean_ref",
        "mean_cur",
        t.alias("t_stat"),
        dof.alias("df"),
    )


def grouped_chisq(
    ref: DataFrame,
    cur: DataFrame,
    by: str | Sequence[str],
    cat_col: str,
) -> DataFrame:
    """Per-group chi-squared test of homogeneity for a CATEGORICAL
    column between two snapshots — the categorical member of the drift
    trio (:func:`population_stability` = numeric marginal,
    :func:`grouped_ttest` = means, this = category mix: did the
    language/source/topic composition of each segment move?).

    Returns ``(by…, n_ref, n_cur, n_cats, chisq, dof)`` per group:
    2×C contingency of observed counts, expected under homogeneity
    ``e = n_side · tot_cat / N``, ``chisq = Σ (o−e)²/e``,
    ``dof = C − 1``.  Groups present in only one snapshot yield NULL
    ``chisq`` (the test is undefined).  NULL categories are excluded.

    Scale shape: one union + ONE map-combined count aggregate on
    ``(by…, category)`` — the only data-sized shuffle; the expected-
    value window and final per-group fold run on |groups|·|cats| rows.
    """
    keys = [by] if isinstance(by, str) else list(by)
    u = ref.select(
        *keys, F.col(cat_col).alias("__c"), F.lit(0).alias("__s")
    ).unionByName(
        cur.select(*keys, F.col(cat_col).alias("__c"), F.lit(1).alias("__s"))
    ).where(F.col("__c").isNotNull())
    cell = u.groupBy(*keys, "__c").agg(
        F.sum((F.col("__s") == 0).cast("bigint")).alias("o_ref"),
        F.sum((F.col("__s") == 1).cast("bigint")).alias("o_cur"),
    )
    w = Window.partitionBy(*keys)
    cell = cell.withColumn("n_ref", F.sum("o_ref").over(w)).withColumn(
        "n_cur", F.sum("o_cur").over(w)
    )
    tot = F.col("o_ref") + F.col("o_cur")
    n_all = F.col("n_ref") + F.col("n_cur")
    # expectations in DOUBLE: a bigint n_side·tot product overflows once
    # both counts pass ~3e9 (10¹² rows/group is realistic at 100 TB)
    e_ref = F.col("n_ref").cast("double") * tot / n_all
    e_cur = F.col("n_cur").cast("double") * tot / n_all
    term = F.try_divide((F.col("o_ref") - e_ref) * (F.col("o_ref") - e_ref), e_ref) + F.try_divide(
        (F.col("o_cur") - e_cur) * (F.col("o_cur") - e_cur), e_cur
    )
    return cell.groupBy(*keys).agg(
        F.first("n_ref").alias("n_ref"),
        F.first("n_cur").alias("n_cur"),
        F.count(F.lit(1)).alias("n_cats"),
        F.sum(term).alias("chisq"),
        (F.count(F.lit(1)) - 1).alias("dof"),
    )


def grouped_ks(
    ref: DataFrame,
    cur: DataFrame,
    by: str | Sequence[str],
    col: str,
) -> DataFrame:
    """Per-group two-sample Kolmogorov–Smirnov statistic between two
    snapshots of ``col`` — the bin-free member of the drift family
    (PSI needs breaks; KS is ``D = sup|F₁(v) − F₂(v)|`` over the pooled
    empirical CDFs, sensitive anywhere in the distribution).

    Returns ``(by…, n_ref, n_cur, ks_stat)``; groups present in only
    one snapshot yield NULL.  Ties are handled exactly (scipy
    ``ks_2samp`` semantics): the CDF step is evaluated AFTER each tie
    run via a RANGE window frame — every row of a tie run sees the
    cumulative count including all its ties.

    Plan: union tagged sides → ONE Exchange on the group keys; the
    cumulative counts are range-frame window sums over the value order,
    the per-group totals full-frame sums over the same partitioning, and
    the final ``max`` aggregate reuses it — one shuffle total, sorts
    in-partition (spillable).  NULL/NaN excluded per side.
    """
    keys = [by] if isinstance(by, str) else list(by)
    c = _clean(col)
    u = ref.select(*keys, c.alias("__v"), F.lit(0).alias("__s")).unionByName(
        cur.select(*keys, c.alias("__v"), F.lit(1).alias("__s"))
    ).where(F.col("__v").isNotNull())
    wv = (
        Window.partitionBy(*keys)
        .orderBy("__v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wg = Window.partitionBy(*keys)
    ref_ind = (F.col("__s") == 0).cast("bigint")
    cur_ind = (F.col("__s") == 1).cast("bigint")
    stepped = u.select(
        *keys,
        F.sum(ref_ind).over(wv).alias("__c1"),
        F.sum(cur_ind).over(wv).alias("__c2"),
        F.sum(ref_ind).over(wg).alias("__n1"),
        F.sum(cur_ind).over(wg).alias("__n2"),
    )
    d = F.abs(
        F.try_divide("__c1", "__n1") - F.try_divide("__c2", "__n2")
    )
    return stepped.groupBy(*keys).agg(
        F.first("__n1").alias("n_ref"),
        F.first("__n2").alias("n_cur"),
        F.max(d).alias("ks_stat"),
    )


def grouped_mad(
    df: DataFrame,
    by: str | Sequence[str],
    col: str,
) -> DataFrame:
    """Per-group Median Absolute Deviation — the robust dispersion
    measure (breakdown point 50%: a heavy-tailed quality score or a few
    corrupt documents cannot drag it the way they drag stddev).
    Returns ``(by…, n, median, mad)`` with ``mad = median(|x − med|)``
    (raw — multiply by 1.4826 for the normal-consistent sigma).

    Two exact-percentile passes by necessity (the inner median must be
    known before deviations exist): groupBy median → broadcast-sized
    join back on the group keys → groupBy deviation-median.  Exact
    medians are holistic (like ``median``/``quantile`` in the registry);
    for the bounded-state sketch escape at extreme group sizes use
    ``approx_quantile``-based deviations instead.  NULL/NaN excluded.
    """
    keys = [by] if isinstance(by, str) else list(by)
    c = _clean(col)
    med = df.groupBy(*keys).agg(
        F.count(c).alias("n"),
        F.percentile(c, F.lit(0.5)).alias("median"),
    )
    # null-SAFE key equality so a NULL-key group keeps its median row
    dev = nullsafe_join(df.select(*keys, c.alias("__v")), med, keys)
    return dev.groupBy(*keys).agg(
        F.first("n").alias("n"),
        F.first("median").alias("median"),
        F.percentile(F.abs(F.col("__v") - F.col("median")), F.lit(0.5)).alias("mad"),
    )


def grouped_auc(
    df: DataFrame,
    by: str | Sequence[str],
    label: str,
    score: str,
) -> DataFrame:
    """Per-group ROC AUC of ``score`` against binary ``label`` via the
    Mann–Whitney rank-sum identity — how a quality/toxicity classifier
    is evaluated per segment at corpus scale without materializing a
    single ROC curve: ``AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻)`` where
    ``R⁺`` is the rank sum of positives under average-tie ranks (ties
    contribute ½, the standard convention).

    Returns ``(by…, n_pos, n_neg, auc)``; groups with no positives or
    no negatives yield NULL (undefined).  One Exchange: the rank window
    and both aggregates share the group partitioning, exactly like
    :func:`grouped_spearman`.  Label semantics: truthy/1 = positive,
    0/false = negative, NULL label or NULL/NaN score rows excluded.
    """
    keys = [by] if isinstance(by, str) else list(by)
    s = _clean(score)
    rows = df.select(
        *keys,
        F.col(label).cast("boolean").alias("__y"),
        s.alias("__s"),
    ).where(F.col("__y").isNotNull() & F.col("__s").isNotNull())
    wr = Window.partitionBy(*keys).orderBy("__s")
    wt = Window.partitionBy(*keys, "__s")
    ranked = rows.withColumn(
        "__r", F.rank().over(wr) + (F.count(F.lit(1)).over(wt) - 1) / 2.0
    )
    agg = ranked.groupBy(*keys).agg(
        F.sum(F.col("__y").cast("bigint")).alias("n_pos"),
        F.sum((~F.col("__y")).cast("bigint")).alias("n_neg"),
        F.sum(F.when(F.col("__y"), F.col("__r"))).alias("__rpos"),
    )
    auc = F.try_divide(
        F.col("__rpos") - F.col("n_pos").cast("double") * (F.col("n_pos") + 1) / 2.0,
        F.col("n_pos").cast("double") * F.col("n_neg"),
    )
    return agg.select(*keys, "n_pos", "n_neg", auc.alias("auc"))


def calibration_bins(
    df: DataFrame,
    by: str | Sequence[str],
    label: str,
    score: str,
    bins: int = 10,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Reliability-diagram data per group: bucket ``score`` into
    ``bins`` uniform bins over the declared ``[lo, hi)`` (out-of-range
    clamps into the edge bins, same convention as ``hist_sketch_table``)
    and report ``(by…, bin, n, mean_score, pos_rate)`` — a calibrated
    classifier has ``pos_rate ≈ mean_score`` per bin; the expected
    calibration error is ``Σ n/N·|pos_rate − mean_score|`` downstream.
    The per-bin companion to :func:`grouped_auc` (AUC is
    threshold-free ranking quality; this is probability quality).

    ONE map-combined aggregate on ``(by…, bin)`` — same cost shape as a
    histogram.  NULL label or NULL/NaN score rows are excluded.
    """
    if bins < 1:
        raise ValueError("bins must be >= 1")
    if not hi > lo:
        raise ValueError(f"need hi > lo (got [{lo}, {hi}))")
    keys = [by] if isinstance(by, str) else list(by)
    s = _clean(score)
    rows = df.select(
        *keys,
        F.col(label).cast("boolean").alias("__y"),
        s.alias("__s"),
        uniform_bin(s, lo, hi, bins).alias("bin"),
    ).where(F.col("__y").isNotNull() & F.col("__s").isNotNull())
    return rows.groupBy(*keys, "bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("__s").alias("mean_score"),
        F.avg(F.col("__y").cast("double")).alias("pos_rate"),
    )


def _pooled_exact_grid(
    df: DataFrame,
    c: Column,
    resolution: int,
    rows_per_partition: int = 2_000_000,
) -> list[float] | None:
    """Exact pooled ``quantile_cont`` grid over ``c``, computed without a
    holistic single-task percentile (see :func:`quantile_normalize`).

    One count job + one query: ``repartitionByRange`` on the value, per-
    partition ``row_number`` plus broadcast cumulative partition counts
    gives exact global ranks (the ranked rows are persisted across the
    count and anchor branches — released after the collect); only
    rows whose rank is an interpolation anchor — ``floor(p*(n-1))`` /
    ``+1`` for each grid prob, <= 2(resolution+1) of them — survive the
    ``InSet`` filter and reach the driver.  Interpolation uses DuckDB's
    ``lo*(1-d) + hi*d`` lerp (bitwise-equal to ``quantile_cont``).
    Returns ``None`` when there are no non-null, non-NaN values.
    """
    import math

    # NaN -> NULL before the null filter (ADVICE r6 #2): callers passing a
    # _clean()-ed column are unaffected, but a raw double column's NaNs
    # would otherwise sort LAST under Spark ordering and poison the upper
    # grid anchors
    v = c.cast("double")
    nn = df.select(
        F.when(~F.isnan(v), v).otherwise(F.lit(None)).alias("__v")
    ).where(F.col("__v").isNotNull())
    n = nn.count()
    if n == 0:
        return None
    if n == 1:
        v = float(nn.collect()[0]["__v"])
        return [v] * (resolution + 1)
    probs = [i / resolution for i in range(resolution + 1)]
    spark = df.sparkSession
    # partition count scales with data: ~2M values per range partition,
    # capped by the session's shuffle parallelism ceiling x4 (at 100 TB
    # the conf is sized for the cluster; at test SFs a single partition
    # skips the range-boundary sampling job entirely — the sort is tiny)
    conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    n_parts = max(1, min(conf_parts * 4, n // rows_per_partition))
    # HARD floor: monotonically_increasing_id packs the within-partition
    # counter into 33 bits — a range partition holding >= 2^33 rows would
    # bleed into the pid bits and corrupt every derived global rank.  At
    # n ~ 1e12 (the 100 TB regime) the conf_parts*4 cap alone could allow
    # that; the floor keeps partitions < 2^33 regardless of session conf.
    n_parts = max(n_parts, -(-n // ((1 << 33) - 1)))
    # ONE range shuffle, NO window: after repartitionByRange +
    # sortWithinPartitions, monotonically_increasing_id() IS
    # (pid << 33) + within-partition row index in sorted order — the
    # within-partition rank for free.  Both branches (per-pid counts and
    # the anchor filter) read `parts`, and Spark 4/AQE does NOT reuse the
    # range exchange across them (measured: two rangepartitioning
    # Exchanges, the data shuffled and sorted twice) — persist the ranked
    # rows so the shuffle+sort runs once; released right after the eager
    # anchor collect below.  (Even unpersisted the OUTPUT stays correct:
    # range bounds sample the deterministic scan, and rank→value is
    # tie-insensitive — but the double shuffle is pure waste.)
    parts = (
        nn.repartitionByRange(n_parts, "__v")
        .sortWithinPartitions("__v")
        .select("__v", F.monotonically_increasing_id().alias("__mid"))
        .select(
            "__v",
            F.shiftright("__mid", 33).alias("__pid"),
            (F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1))).alias("__rn0"),
        )
        .persist()
    )
    # cumulative offsets: one window over <= n_parts rows (bounded by config)
    offs = (
        parts.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .withColumn(
            "__off",
            F.coalesce(
                F.sum("__cnt").over(
                    Window.orderBy("__pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("__pid", "__off")
    )
    # anchor-rank filter as PURE ARITHMETIC, not a 2002-literal isin
    # (measured ~1.7 s of analyzer time per query) nor a broadcast
    # targets table (createDataFrame + extra join planning): rank g is
    # within 2 ranks of an anchor floor(i*(n-1)/R) iff
    # (g*R) mod (n-1) lands within 2R of 0 (mod n-1).  The 2-rank slack
    # is a superset that absorbs any float-vs-integer floor ulp drift;
    # <= ~5(resolution+1) rows survive — still a KB-class collect.
    m = F.pmod(F.col("__grank") * F.lit(int(resolution)), F.lit(int(n - 1)))
    slack = F.lit(int(2 * resolution))
    anchors = (
        parts.join(F.broadcast(offs), "__pid")
        .select((F.col("__rn0") + F.col("__off")).alias("__grank"), "__v")
        .where((m <= slack) | (m >= F.lit(int(n - 1)) - slack))
        .collect()
    )
    parts.unpersist()
    rankmap = {r["__grank"]: r["__v"] for r in anchors}
    grid: list[float] = []
    for p in probs:
        t = p * (n - 1)
        lo_i = math.floor(t)
        hi_i = min(lo_i + 1, n - 1)
        d = t - lo_i
        vlo, vhi = float(rankmap[lo_i]), float(rankmap[hi_i])
        grid.append(vlo * (1 - d) + vhi * d)
    return grid


def quantile_normalize(
    df: DataFrame,
    by: str | Sequence[str],
    col: str,
    resolution: int = 1000,
    out: str | None = None,
    method: str = "window",
    rows_per_chunk: int = 2_000_000,
) -> DataFrame:
    """Map each group's distribution of ``col`` onto the POOLED
    distribution — quantile normalization, the score-harmonization step
    before one global threshold: a "0.8" from a lenient domain scorer
    and a "0.3" from a strict one land at comparable values, because
    each value is replaced by the pooled quantile at its within-group
    percentile rank.

    Adds ``out`` (default ``<col>_qnorm``): ``Q_pool(percent_rank_g(x))``
    with linear interpolation on a ``resolution``-point exact-percentile
    grid of the pooled values.  The grid is the ONLY non-distributed
    state — ``resolution+1`` doubles collected once (documented
    KB-collect class, like the IVF quantizer); the rank is one window
    over the group partitioning and the mapping is a pure literal-array
    projection.  NULL/NaN rows pass through with NULL ``out``.
    Monotone within each group by construction (ranks preserve order).

    The grid itself is computed DISTRIBUTEDLY (r6, VERDICT r5 item #3):
    Spark's holistic ``percentile(col, array<1001>)`` re-walks the
    value-count buffer once per requested percentage in a 1-task final
    aggregate (measured 5.8 s at sf0.01 vs 0.9 s for a single prob —
    O(probs x distinct) driver-side scan, and it only gets worse with
    data volume).  Instead :func:`_pooled_exact_grid` range-partitions
    the values, turns per-partition ``row_number`` + broadcast partition
    offsets into exact global ranks (the ranked rows are persisted across
    the count and rank branches, one shuffle+sort total), filters to the
    <= 2(resolution+1) interpolation anchor ranks, and interpolates on
    the driver with DuckDB's own ``lo*(1-d)+hi*d`` lerp — verified
    bitwise-equal to ``quantile_cont`` (1001/1001), where Spark's
    ``lo+(hi-lo)*d`` differs in the last ulp for 228/1001 points.
    Fully parallel at any scale: the only single-task work is a
    P-row offset window (P = shuffle partitions) and the anchor collect.

    ``method="two_pass"`` (r8): the within-group percentile rank itself
    decomposes as ``(min_rank − 1)/(n − 1)`` — min_rank rides the chunked
    :func:`~dask_groupby_spark.two_pass.rank_two_pass` tier and ``n``
    broadcast-joins from a tiny count, so a huge group's rank no longer
    serializes onto one task (the window path's remaining single-task
    stage).  Numeric ``col`` only.
    """
    keys = [by] if isinstance(by, str) else list(by)
    out = out or f"{col}_qnorm"
    if resolution < 1:
        raise ValueError("resolution must be >= 1")
    c = _clean(col)
    grid = _pooled_exact_grid(df, c, resolution)
    if grid is None:
        return df.withColumn(out, F.lit(None).cast("double"))
    nn = df.where(c.isNotNull()).withColumn("__cc", c)
    nulls = df.where(c.isNull()).withColumn(out, F.lit(None).cast("double"))
    if method == "two_pass":
        from ..core import _group_stat_join, groupby_rank

        ranked = groupby_rank(
            nn, *keys, value="__cc", method="min", alias="__rk",
            execution="two_pass", rows_per_chunk=rows_per_chunk,
        )
        nn = _group_stat_join(ranked, keys, [F.count(F.lit(1)).alias("__gs")])
        pr = F.when(
            F.col("__gs") > 1,
            (F.col("__rk") - 1).cast("double") / (F.col("__gs") - 1),
        ).otherwise(F.lit(0.0))
        nn = nn.withColumn("__pos", pr * resolution).drop("__rk", "__gs")
    elif method == "window":
        w = Window.partitionBy(*keys).orderBy("__cc")
        # materialize the rank ONCE: each occurrence of a window Column in
        # the interpolation tree becomes its own window expression after
        # analysis (the inline form instantiated ~6 percent_rank passes; r8)
        nn = nn.withColumn("__pos", F.percent_rank().over(w) * resolution)
    else:
        raise ValueError(f"method must be 'window' or 'two_pass', got {method!r}")
    pos = F.col("__pos")
    lo = F.least(F.floor(pos), F.lit(resolution - 1)).cast("int")
    frac = pos - lo
    arr = F.array(*[F.lit(float(v)) for v in grid])
    val = F.element_at(arr, lo + 1) * (1 - frac) + F.element_at(arr, lo + 2) * frac
    mapped = nn.withColumn(out, val).drop("__cc", "__pos")
    return mapped.unionByName(nulls)


def flag_outliers(
    df: DataFrame,
    by: str | Sequence[str],
    col: str,
    k: float = 3.5,
    out: str | None = None,
) -> DataFrame:
    """Robust per-group outlier flag via the modified z-score
    (Iglewicz–Hoaglin): ``M = 0.6745·(x − median)/MAD``, flagged when
    ``|M| > k`` (3.5 is the classic cutoff) — the outlier gate that a
    heavy-tailed quality score can't fool, because median and MAD have
    50% breakdown where mean/stddev have 0%.

    Adds ``out`` (default ``<col>_outlier``, boolean) and keeps every
    row.  Zero-MAD groups (≥50% identical values) flag only values
    different from the median — the conventional degenerate reading.
    NULL/NaN values get NULL flags.  Cost = :func:`grouped_mad` (two
    exact-percentile passes) + a broadcast-sized join back.
    """
    keys = [by] if isinstance(by, str) else list(by)
    out = out or f"{col}_outlier"
    stats = grouped_mad(df, keys, col).select(
        *keys, F.col("median").alias("__med"), F.col("mad").alias("__mad")
    )
    j = nullsafe_join(df, stats, keys, how="left")
    c = _clean(col)
    m = F.lit(0.6745) * (c - F.col("__med")) / F.col("__mad")
    flag = (
        F.when(c.isNull(), F.lit(None).cast("boolean"))
        .when(F.col("__mad") == 0, c != F.col("__med"))
        .otherwise(F.abs(m) > F.lit(float(k)))
    )
    return j.withColumn(out, flag).drop("__med", "__mad")
