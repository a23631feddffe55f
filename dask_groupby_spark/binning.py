"""Interval binning of group labels (the reference's ``isbin=True`` /
``pd.IntervalIndex`` expected_groups; ref: flox/core.py:803-823 ``np.digitize``
path and flox/core.py:2098-2099).

Semantics mirrored exactly:

- ``closed="right"`` (pd.cut / pd.IntervalIndex default): value ∈ (e[i], e[i+1]]
  → bin i.  ``closed="left"``: [e[i], e[i+1]).
- out-of-bounds and missing label values → no bin (code −1 in the reference,
  flox/core.py:819) → the row is EXCLUDED from results.
- every bin is part of the output domain (empty bins appear with fill_value —
  ref test: flox/tests/test_core.py:1191 ``test_empty_bins``).

Implementation: a flat CASE expression (whole-stage-codegen friendly; the bin
count is planner-side small).  At 100 TB the CASE is evaluated map-side before
the shuffle, so binning adds no extra stage.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Bins:
    """Bin edges for one grouper, like a ``pd.IntervalIndex`` from edges."""

    edges: tuple
    closed: str = "right"  # "right" → (a, b]; "left" → [a, b)

    def __init__(self, edges: Sequence, closed: str = "right"):
        if closed not in ("right", "left"):
            raise ValueError("closed must be 'right' or 'left'")
        if len(edges) < 2:
            raise ValueError("need at least 2 bin edges")
        if any(a >= b for a, b in zip(edges, edges[1:])):
            # pd.IntervalIndex.from_breaks parity: misordered edges would
            # silently misbin (r9 review)
            raise ValueError(f"bin edges must be strictly increasing: {edges}")
        object.__setattr__(self, "edges", tuple(edges))
        object.__setattr__(self, "closed", closed)

    @property
    def nbins(self) -> int:
        return len(self.edges) - 1

    def bucket(self, col: Column) -> Column:
        """Map a label column to its 0-based bin index (NULL = out of bounds)."""
        e = self.edges
        expr = F.lit(None).cast("int")
        # build CASE from last bin to first so earlier bins take precedence
        for i in range(self.nbins - 1, -1, -1):
            lo, hi = F.lit(e[i]), F.lit(e[i + 1])
            if self.closed == "right":
                cond = (col > lo) & (col <= hi)
            else:
                cond = (col >= lo) & (col < hi)
            expr = F.when(cond, F.lit(i)).otherwise(expr)
        return expr

    def labels(self) -> list[str]:
        """Human-readable interval labels, pandas-style."""
        out = []
        for i in range(self.nbins):
            lo, hi = self.edges[i], self.edges[i + 1]
            out.append(f"({lo}, {hi}]" if self.closed == "right" else f"[{lo}, {hi})")
        return out

    def expected_codes(self) -> list[int]:
        return list(range(self.nbins))

    def label_expr(self, code: Column) -> Column:
        """Map a 0-based bin-code column to its pandas-style interval label
        (``"(10.0, 20.0]"``) — the output-coordinate form the reference's
        xarray front-end attaches to binned groupers (pd.IntervalIndex
        coords, flox/xarray.py:370-378).  A flat CASE like :meth:`bucket`:
        planner-side small, codegen-friendly, map-side."""
        labels = self.labels()
        expr = F.lit(None).cast("string")
        for i in range(self.nbins - 1, -1, -1):
            expr = F.when(code == F.lit(i), F.lit(labels[i])).otherwise(expr)
        return expr


def quantile_bins(
    df,
    col: str,
    q: int = 10,
    by: str | Sequence[str] | None = None,
    out: str | None = None,
    resolution_guard: int = 10_000,
    method: str = "auto",
    rows_per_chunk: int = 2_000_000,
):
    """Equal-frequency discretization — ``pd.qcut(x, q, labels=False)``
    parity: bin edges at the exact linear-interpolation quantiles
    ``i/q`` and each value assigned ``Σᵢ 1[x > eᵢ]`` (right-closed
    intervals, so a value equal to an interior edge falls in the lower
    bin, exactly pandas' convention).  With ``by``, edges are computed
    PER GROUP (per-domain score deciles).  NULL/NaN values get a NULL
    bin.  Tied data can collapse adjacent edges; bins keep their nominal
    index (pandas' ``duplicates="drop"`` renumbers instead — on
    edge-tie-free data the two agree exactly, asserted in tests).
    Pandas-parity caveat (soak-caught): a value EXACTLY equal to an
    interior edge can bin one lower than pandas when numpy's
    ``(i/q)·(n−1)`` position rounding differs in the last ulp from the
    exact position — this engine computes positions integer-first (see
    the ``spec`` comment below) and shares every bit of edge arithmetic
    with its SQL oracle instead of with numpy's float path.

    Plan shape: the GLOBAL form computes its ``q−1`` interior edges with
    the distributed exact-rank grid of ``quantile_normalize``
    (:func:`~dask_groupby_spark.operators.stats._pooled_exact_grid` —
    range-partitioned ranks, anchor-only collect, DuckDB-lerp) and bins
    map-side against literals — fully parallel at any scale.  The
    GROUPED form ranks within each group (``groupby_rank``'s window —
    the documented per-group-quantile serialization, same class as the
    ``quantile`` reduction), joins the ≤ 2(q−1) anchor rows per group, and
    interpolates with the SAME ``lo·(1−d) + hi·d`` lerp IN-ENGINE, so
    the DuckDB oracle mirrors it bit-for-bit; binning is a broadcast
    join of |groups|·(q−1) edges + a map-side fold.
    ``method="two_pass"`` replaces the grouped tier's window with the
    chunked two-pass rank (``groupby_rank(execution="two_pass")``), so
    a huge group's rank pass spans many tasks — identical bins (the edge
    math reads values at ranks, which any tie order preserves); the
    global tier is already scalable and ignores ``method``.
    ``method="auto"`` (DEFAULT): ``groupby_rank``'s own tier decision
    picks two_pass when some group exceeds ``rows_per_chunk`` rows.
    Nothing is persisted: each frame in the edge pipeline has one
    consumer.
    """
    if q < 2:
        raise ValueError(f"q must be >= 2, got {q}")
    if q > resolution_guard:
        raise ValueError(f"q={q} exceeds resolution_guard={resolution_guard}")
    if method not in ("window", "two_pass", "auto"):
        raise ValueError(
            f"method must be 'window', 'two_pass', or 'auto', got {method!r}"
        )
    if "__edges" in df.columns:
        raise ValueError(
            "quantile_bins: input column '__edges' collides with the "
            "internal namespace — rename it first"
        )
    out = out or f"{col}_qbin"
    v = F.col(col).cast("double")
    v = F.when(~F.isnan(v), v)  # NaN -> NULL

    if by is None:
        from .operators.stats import _pooled_exact_grid

        grid = _pooled_exact_grid(df, F.col(col), q)
        if grid is None:
            return df.withColumn(out, F.lit(None).cast("int"))
        edges = grid[1:-1]  # interior edges only
        b = F.lit(0)
        for e in edges:
            b = b + F.when(v > F.lit(float(e)), 1).otherwise(0)
        return df.withColumn(out, F.when(v.isNotNull(), b).cast("int"))

    by_list = [by] if isinstance(by, str) else list(by)
    vals = df.select(*by_list, v.alias("__v")).filter(F.col("__v").isNotNull())
    # group sizes from a plain map-combined count — NOT max(__r) over the
    # ranked frame, which would read the per-group sort a second time
    n_tbl = vals.groupBy(*by_list).agg(F.count(F.lit(1)).alias("__n"))
    # per-group row numbers in value order: method "first" gives
    # row_number semantics, and peers order by the value itself
    # (idx_col=__v: tie order within equal values is arbitrary, but the
    # VALUE at any rank — all the edge math needs — is order-invariant,
    # so both rank tiers give identical bins)
    from .core import groupby_rank, nullsafe_join

    ranked = groupby_rank(
        vals,
        *by_list,
        value="__v",
        method="first",
        idx_col="__v",
        alias="__r",
        execution=method,
        rows_per_chunk=rows_per_chunk,
    ).withColumn("__r", F.col("__r").cast("bigint"))
    # one row per (group, i): anchor ranks + interpolation fraction,
    # exactly numpy/DuckDB linear interpolation arithmetic
    i_col = F.explode(
        F.array(*[F.lit(i) for i in range(1, q)])
    ).alias("__i")
    # position arithmetic is INTEGER-FIRST: pos = (i·(n−1))/q with the
    # int64 product exact, so anchors that are mathematically integral
    # (i·(n−1) divisible by q) get d = 0 EXACTLY and the edge IS the data
    # value — numpy/pandas compute (i/q)·(n−1) instead, whose float
    # rounding can turn an exact anchor into d ≈ 1 and shift the edge one
    # ulp BELOW the data value (the soak-caught counterexample: n=31,
    # q=3, a value equal to the tercile edge binned up by pandas, down
    # here).  Engine and oracle share this arithmetic bit-for-bit; pandas
    # parity holds everywhere except values exactly on such an edge.
    spec = n_tbl.select(*by_list, "__n", i_col).select(
        *by_list,
        "__i",
        F.floor(
            (F.col("__i") * (F.col("__n") - 1)).cast("double") / F.lit(float(q))
        ).cast("bigint").alias("__k"),
        (
            (F.col("__i") * (F.col("__n") - 1)).cast("double") / F.lit(float(q))
        ).alias("__pk"),
        F.col("__n"),
    )
    spec = spec.select(
        *by_list,
        "__i",
        (F.col("__k") + 1).alias("__rlo"),
        F.least(F.col("__k") + 2, F.col("__n")).alias("__rhi"),
        (F.col("__pk") - F.col("__k").cast("double")).alias("__d"),
    )
    # ONE join reads the ranked frame: each spec row is MELTED to one
    # (role, rank) row per edge endpoint and broadcast (|groups|·2(q−1)
    # rows); `__r` is a row number, so each endpoint meets exactly one
    # ranked row, and lo/hi pivot back per (group, i).  The join is
    # NULL-SAFE on the group columns: a NULL group is a group (GROUP BY
    # semantics), and a plain equi-join would strand its rows at NULL bins.
    spec_m = spec.select(
        *by_list,
        "__i",
        "__d",
        F.explode(
            F.array(
                F.struct(
                    F.lit("lo").alias("role"), F.col("__rlo").alias("ar")
                ),
                F.struct(
                    F.lit("hi").alias("role"), F.col("__rhi").alias("ar")
                ),
            )
        ).alias("__rr"),
    ).select(
        *by_list,
        "__i",
        "__d",
        F.col("__rr.role").alias("__role"),
        F.col("__rr.ar").alias("__r"),
    )
    edges = (
        nullsafe_join(
            ranked.select(*by_list, "__r", "__v"),
            spec_m,
            by_list + ["__r"],
            broadcast=True,
        )
        .groupBy(*by_list, "__i")
        .agg(
            F.max(F.when(F.col("__role") == "lo", F.col("__v"))).alias("__lo"),
            F.max(F.when(F.col("__role") == "hi", F.col("__v"))).alias("__hi"),
            # __d is constant within (group, i) — first() is order-safe
            F.first("__d").alias("__dd"),
        )
        .select(
            *by_list,
            "__i",
            # DuckDB quantile_cont lerp: lo*(1-d) + hi*d (bitwise-shared)
            (
                F.col("__lo") * (F.lit(1.0) - F.col("__dd"))
                + F.col("__hi") * F.col("__dd")
            ).alias("__edge"),
        )
    )
    edge_arr = edges.groupBy(*by_list).agg(
        F.array_sort(F.collect_list(F.struct("__i", "__edge"))).alias("__es")
    ).select(*by_list, F.transform("__es", lambda s: s["__edge"]).alias("__edges"))
    j = nullsafe_join(df, edge_arr, by_list, how="left", broadcast=True)
    b = F.aggregate(
        F.coalesce(F.col("__edges"), F.array().cast("array<double>")),
        F.lit(0),
        lambda acc, e: acc + F.when(v > e, 1).otherwise(0),
    )
    return j.withColumn(
        out,
        F.when(v.isNotNull() & F.col("__edges").isNotNull(), b).cast("int"),
    ).drop("__edges")
