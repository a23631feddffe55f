"""Custom-reduction escape hatches — the Spark counterpart of the
reference's user-defined :class:`Aggregation` (flox/aggregations.py:149-248,
accepted by groupby_reduce at flox/core.py:2560, test at
flox/tests/test_core.py:1462).

Two tiers, fastest first:

1. **Column-builder Aggregation** (preferred): construct an
   :class:`~dask_groupby_spark.aggregations.Aggregation` whose ``build``
   composes built-in Spark aggregate functions.  Catalyst derives the
   partial/merge split, everything stays in whole-stage codegen.  This covers
   every case where the combine step is itself expressible as an aggregate —
   the analog of flox's (chunk, combine, finalize) with library kernels.

2. **applyInPandas fallback** (:func:`groupby_apply_reduce`): arbitrary
   Python per-group logic over Arrow batches.  No partial aggregation — all
   rows of a group are shuffled to one task (exactly the constraint of the
   reference's blockwise-only reductions, e.g. median: chunk=None,
   aggregations.py:534-547).  Use only when tier 1 can't express the math.
"""

from __future__ import annotations

from typing import Callable, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .aggregations import Aggregation, Scan

__all__ = [
    "Aggregation",
    "Scan",
    "make_aggregation",
    "make_scan",
    "groupby_apply_reduce",
]


def make_aggregation(
    name: str,
    build,
    result_type=None,
    skipna: bool = True,
    needs_idx: bool = False,
) -> Aggregation:
    """Convenience constructor for a custom column-builder Aggregation.

    ``build(ctx) -> Column`` receives the same Ctx as built-ins (clean/
    missing/valid/idx columns).  ``result_type(input_dt, kwargs) -> DataType``
    defaults to passthrough.
    """
    return Aggregation(
        name=name,
        build=build,
        result_type=result_type or (lambda dt, kw: dt),
        skipna=skipna,
        needs_idx=needs_idx,
    )


def make_scan(
    name: str,
    build,
    result_type=None,
) -> Scan:
    """Declarative custom grouped-SCAN constructor — the scan-side twin of
    :func:`make_aggregation`, giving the reference's ``Scan`` dataclass
    extensibility (flox/aggregations.py:577-598) a registry-style entry
    point instead of constructing :class:`Scan` by hand.

    ``build(ctx, window) -> Column`` receives the same Ctx as built-in scans
    plus the ordered frame ``Window.partitionBy(keys).orderBy(idx)``; compose
    built-in window aggregates over it and Catalyst keeps the whole scan in
    one WindowExec (same single-shuffle plan as the shipped scans).
    ``result_type(input_dt, kwargs) -> DataType`` defaults to passthrough.
    Pass the returned spec as ``groupby_scan(..., func=spec)``.
    """
    return Scan(
        name=name,
        build=build,
        result_type=result_type or (lambda dt, kw: dt),
    )


def groupby_apply_reduce(
    df: DataFrame,
    *by: str,
    reduce_fn: Callable[[pd.DataFrame], dict],
    value_cols: list[str],
    output_schema: str,
    sort: bool = True,
) -> DataFrame:
    """Arbitrary per-group reduction via Arrow-batched grouped-map.

    ``reduce_fn(pdf) -> dict`` maps one group's rows (pandas DataFrame with
    ``value_cols``) to a dict of output scalars matching ``output_schema``
    (which must NOT include the key columns — they are prepended
    automatically).

    Scale caveat (inherent, same as the reference's blockwise-only ops): the
    whole group is materialized in one task; cardinality of ``by`` must be
    large relative to group size, or executors will spill.
    """
    dt = dict(df.dtypes)
    key_schema = ", ".join(f"`{b}` {dt[b]}" for b in by)
    # NaN keys: the Arrow boundary would hand a NaN group key back as SQL
    # NULL (see groupby_apply_transform) — float keys travel with a
    # boolean isnan marker and are restored after the UDF
    nan_keys = [b for b in by if dt[b] in ("float", "double")]
    clash = [c for c in df.columns if c.startswith("__agr_")]
    if clash:
        raise ValueError(
            f"input column(s) {clash} collide with the internal __agr_* "
            "namespace; rename them before groupby_apply_reduce"
        )
    marks = {b: f"__agr_nan_{i}" for i, b in enumerate(nan_keys)}
    mark_schema = "".join(f", `{m}` boolean" for m in marks.values())
    # no keys = one global group: the schema must not lead with a comma
    full_schema = f"{key_schema}{mark_schema}, {output_schema}" if by else output_schema

    def apply(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = {b: pdf[b].iloc[0] for b in by}
        for b, m in marks.items():
            keys[m] = bool(pdf[m].iloc[0])
        out = reduce_fn(pdf[list(value_cols)])
        return pd.DataFrame([{**keys, **out}])

    src = df
    if marks:
        src = df.withColumns({m: F.isnan(F.col(b)) for b, m in marks.items()})
    out = src.groupBy(*by).applyInPandas(apply, schema=full_schema)
    for b, m in marks.items():
        out = out.withColumn(
            b, F.when(F.col(m), F.lit(float("nan"))).otherwise(F.col(b)).cast(dt[b])
        )
    out = out.drop(*marks.values())
    if sort and by:
        out = out.orderBy(*by)
    return out


def groupby_apply_transform(
    df: DataFrame,
    *by: str,
    transform_fn,
    value_cols: Sequence[str],
    idx_col: str,
    output_schema: str,
) -> DataFrame:
    """Arrow-batched grouped TRANSFORM (same row count as the input): the
    scan-shaped escape hatch next to :func:`groupby_apply_reduce`'s
    reduction shape.  ``transform_fn(pdf) -> pd.DataFrame`` receives one
    group sorted by ``idx_col`` and returns equally-long output columns
    (``output_schema`` names them); key, idx, and value columns are carried
    through automatically.

    Scale caveat: the whole group materializes in one task (inherent to
    order-dependent recursive transforms — the reason these are not plain
    window expressions); range-partition upstream if single groups exceed
    executor memory.

    NaN round-trip: the Arrow/pandas boundary renders a float NaN as
    pandas' missing sentinel and hands it BACK to Spark as SQL NULL — a
    NaN group key or passthrough value would silently come out NULL (r10
    audit: an ewma over a NaN-keyed group returned the key column as
    NULL).  Carried float/double columns therefore travel with a boolean
    ``isnan`` marker and are restored after the UDF; inside
    ``transform_fn`` NULL and NaN are indistinguishable either way
    (pandas semantics — the documented behavior of this tier).
    """
    dt = dict(df.dtypes)
    # dict.fromkeys dedupes (idx_col may itself be a value column) so the
    # schema cannot carry a duplicate field (r9 review)
    carried = list(
        dict.fromkeys(
            list(by) + [idx_col] + [c for c in value_cols if c not in by]
        )
    )
    nan_cols = [c for c in carried if dt[c] in ("float", "double")]
    marks = {c: f"__agt_nan_{i}" for i, c in enumerate(nan_cols)}
    clash = [c for c in df.columns if c.startswith("__agt_")]
    if clash:
        raise ValueError(
            f"input column(s) {clash} collide with the internal __agt_* "
            "namespace — rename them first"
        )
    carry_schema = ", ".join(f"`{c}` {dt[c]}" for c in carried)
    mark_schema = "".join(f", `{m}` boolean" for m in marks.values())
    full_schema = f"{carry_schema}{mark_schema}, {output_schema}"

    def apply(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(idx_col, kind="mergesort")
        out = transform_fn(pdf[list(value_cols)])
        res = pdf[carried + list(marks.values())].reset_index(drop=True)
        for name, col in out.items():
            res[name] = col.reset_index(drop=True) if hasattr(col, "reset_index") else col
        return res

    src = df.select(
        *dict.fromkeys(carried),
        *[
            F.isnan(F.col(c)).alias(m) for c, m in marks.items()
        ],  # IsNaN is false on NULL, so only true NaNs restore below
    )
    res = src.groupBy(*by).applyInPandas(apply, schema=full_schema)
    for c, m in marks.items():
        res = res.withColumn(
            c,
            F.when(F.col(m), F.lit(float("nan"))).otherwise(F.col(c)).cast(dt[c]),
        )
    return res.drop(*marks.values())


def ewma(
    df: DataFrame,
    *by: str,
    value: str,
    idx_col: str,
    alpha: float,
    adjust: bool = True,
    ignore_na: bool = False,
    out: str = "ewma",
    method: str = "auto",
    rows_per_chunk: int = 100_000,
) -> DataFrame:
    """Grouped exponentially-weighted moving average — pandas
    ``GroupBy.ewm(alpha=...).mean()`` parity, including ``adjust`` and
    NaN handling: with the pandas-default ``ignore_na=False`` missing
    values carry the previous EWMA forward and relative weights DO decay
    across NaN positions (the gap widens the exponent between surviving
    observations); ``ignore_na=True`` weights surviving observations as if
    the NaNs were never there.

    EWMA is a linear RECURRENCE (y_t depends on y_{t-1}), which a Spark
    window aggregate cannot express and whose closed form
    ``Σ(1-α)^(t-i)x_i`` overflows for long series — so ``method="pandas"``
    (default) is the designed use of the Arrow ``applyInPandas`` tier:
    pandas' C kernel per group, one shuffle on the keys.  That routes each
    group to ONE task; ``method="two_pass"`` is the r8 scalable execution
    — segmented geometric sums whose β-prefactors cancel in the final
    ratio (affine-step composition for the renormalizing
    adjust=False+ignore_na=False mode), with the cross-chunk carry
    recurrence evaluated over the TINY chunk-state table (see
    :func:`dask_groupby_spark.two_pass.ewma_two_pass`); identical pandas
    semantics in all four adjust×ignore_na modes, max task = one chunk.
    ``method="auto"`` (DEFAULT): picks two_pass when some group exceeds
    ``rows_per_chunk`` rows and the recurrence is two-pass-able
    (0 < alpha < 1, numeric/time idx); otherwise the pandas tier.  The
    first call probes per-group row counts once, the memo serves
    repeated calls, and nothing is persisted.
    """
    # A NULL idx has no position in an order-dependent recurrence: exclude
    # the row from the series and give it a NULL result, UNIFORMLY —
    # enforced here, before tier dispatch, because the tiers used to
    # disagree (pandas sorted NULL idx last; the geometric two-pass
    # dropped it from carries; the affine two-pass seeded the recurrence
    # with it — three answers for one input, r9 review).
    from pyspark.sql import functions as F

    null_idx = df.where(F.col(idx_col).isNull()).withColumn(
        out, F.lit(None).cast("double")
    )
    work = df.where(F.col(idx_col).isNotNull())
    from .two_pass import choose_tier

    axis = idx_col if 0.0 < alpha < 1.0 else None
    if choose_tier(method, work, list(by), axis, rows_per_chunk, fallback="pandas") == "two_pass":
        from .two_pass import ewma_two_pass

        res = ewma_two_pass(
            work, by, value, idx_col, alpha, adjust, ignore_na, out,
            rows_per_chunk=rows_per_chunk,
        )
        return res.unionByName(null_idx)

    def _t(vals: pd.DataFrame) -> dict:
        return {
            out: vals.iloc[:, 0]
            .ewm(alpha=alpha, adjust=adjust, ignore_na=ignore_na)
            .mean()
        }

    res = groupby_apply_transform(
        work, *by, transform_fn=_t, value_cols=[value], idx_col=idx_col,
        output_schema=f"`{out}` double",
    )
    return res.unionByName(null_idx.select(*res.columns))
