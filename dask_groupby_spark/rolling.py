"""Grouped rolling (moving-window) aggregations.

No flox counterpart (the reference's only windowed ops are scans, SURVEY.md
§2.2) — this is Spark-native surface: pandas ``GroupBy.rolling`` semantics
expressed as ONE window spec shared by all requested aggregates, i.e. one
shuffle on the group keys and a single sorted pass per partition
(WindowExec evaluates every frame expression in the same traversal).

Semantics (pandas rolling, NaN-skipping):

- frame = the last ``window`` rows of the same group, ordered by ``idx_col``
  (row-count frames; for time-based frames use ``range_between=`` with a
  numeric/timestamp order column);
- missing elements (NULL or NaN) don't contribute, and a frame with fewer
  than ``min_periods`` valid elements yields NaN;
- ``var``/``std`` use ddof=1 (pandas default).

Scale: identical profile to :func:`~dask_groupby_spark.core.groupby_scan` —
skewed keys concentrate a partition; there is no salting trick for ordered
frames (the frame crosses any row split), so the mitigation at 100 TB is
range-partitioning the time axis per key upstream.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dtypes import NAN

ROLLING_FUNCS = ("count", "sum", "mean", "min", "max", "var", "std")


def _norm_bounds(range_between: tuple) -> tuple:
    """Normalize range-frame bounds to (lo, hi, fractional).

    PySpark's ``WindowSpec.rangeBetween`` binding is INTEGER-only (a
    Python float — even an integral one like ``-15.0`` — dies in py4j
    method lookup with an opaque ``Method rangeBetween([Double, Double])
    does not exist``), but Spark SQL itself accepts fractional range
    offsets (``RANGE BETWEEN 2.5 PRECEDING AND CURRENT ROW``).  So:
    integral values (int, bool excluded, or float with ``.is_integer()``)
    coerce to int and keep the WindowSpec path; genuinely fractional
    bounds flag the SQL-text frame (see ``_expr_over``)."""
    lo, hi = float(range_between[0]), float(range_between[1])
    if not (lo == lo and hi == hi) or lo in (float("inf"), float("-inf")) or hi in (
        float("inf"),
        float("-inf"),
    ):
        raise ValueError(f"range_between bounds must be finite, got {range_between}")
    if lo > hi:
        raise ValueError(f"range_between needs lo <= hi, got {range_between}")
    if lo.is_integer() and hi.is_integer():
        return int(lo), int(hi), False
    return lo, hi, True


def _frame_bound(b, side: str) -> str:
    """One SQL frame bound: ``side`` is "PRECEDING" (lower) or "FOLLOWING"
    (upper); the sign of ``b`` picks the actual direction."""
    if b == 0:
        return "CURRENT ROW"
    if side == "PRECEDING":
        return f"{-b!r} PRECEDING" if b < 0 else f"{b!r} FOLLOWING"
    return f"{b!r} FOLLOWING" if b > 0 else f"{-b!r} PRECEDING"


def _expr_over(partition_cols, order_col: str, lo, hi):
    """SQL-text window for FRACTIONAL range frames — the representation
    ``apply_frames`` consumes when the WindowSpec API can't express the
    frame.  Returns ``ov(agg_sql) -> Column``; ``agg_sql`` aggregates
    plain (backquoted) column names only."""
    over = " OVER (PARTITION BY {p} ORDER BY `{o}` RANGE BETWEEN {a} AND {b})".format(
        p=", ".join(f"`{c}`" for c in partition_cols),
        o=order_col,
        a=_frame_bound(lo, "PRECEDING"),
        b=_frame_bound(hi, "FOLLOWING"),
    )
    return lambda agg_sql: F.expr(agg_sql + over)


def groupby_rolling(
    df: DataFrame,
    *by: str,
    funcs: Sequence[str] | str,
    value: str,
    idx_col: str,
    window: int,
    min_periods: int = 1,
    range_between: tuple | None = None,
    prefix: str = "rolling_",
    method: str = "auto",
    rows_per_chunk: int = 2_000_000,
) -> DataFrame:
    """Append one ``<prefix><func>`` column per requested func: the rolling
    aggregate over the trailing ``window`` rows (or, with
    ``range_between=(lo, hi)``, the rows whose ``idx_col`` lies within
    ``[idx+lo, idx+hi]`` — an interval frame on the *values* of the order
    column, e.g. seconds for an epoch column).  Bounds may be FRACTIONAL
    (``(-2.5, 0)`` = a 2.5-second trailing window on a seconds axis):
    integral values go through ``WindowSpec.rangeBetween``; fractional
    ones through the SQL-text frame (``RANGE BETWEEN 2.5 PRECEDING …``),
    which the PySpark binding can't carry but Spark itself evaluates
    identically (r10 audit: float bounds — even integral ones like
    ``-15.0`` — used to die in py4j method lookup).

    ``method="two_pass"`` (RANGE frames only): the chunked scalable path —
    groups split into idx-contiguous chunks with the frame's context width
    replicated across chunk fringes, so one huge group spans many tasks
    instead of serializing onto one (see
    :func:`dask_groupby_spark.two_pass.rolling_two_pass`).  Row-count
    frames keep the window path: "the last W rows of a chunk" is not a
    function of idx values, so their context cannot be chunked
    arithmetically — convert to a range frame on a dense axis to scale.

    ``method="auto"`` (DEFAULT): when the frame is a two-pass-able range
    frame (``lo <= 0 <= hi``, finite, numeric/timestamp/date idx), picks
    two_pass when some group exceeds ``rows_per_chunk`` rows; row-count
    frames and small-group inputs keep the window.  The first call probes
    per-group row counts once, the memo serves repeated calls, and
    nothing is persisted.
    """
    if isinstance(funcs, str):
        funcs = (funcs,)
    bad = [f for f in funcs if f not in ROLLING_FUNCS]
    if bad:
        raise ValueError(f"unsupported rolling funcs {bad}; one of {ROLLING_FUNCS}")
    if window < 1:
        raise ValueError("window must be >= 1")
    clash = [c for c in df.columns if c.startswith("__ro_")]
    if clash:
        # the fixed helper names below would overwrite and then drop a
        # same-named input column silently (r9 review; same guard class as
        # redact_pii / groupby_rank)
        raise ValueError(
            f"groupby_rolling: input column(s) {clash} collide with the "
            "internal __ro_* namespace — rename them first"
        )

    v = F.col(value)
    dt = df.schema[value].dataType.simpleString()
    missing = v.isNull() | (F.isnan(v) if dt in ("float", "double") else F.lit(False))
    clean = F.when(~missing, v.cast("double"))

    def apply_frames(frame_df: DataFrame, w, w_shift) -> tuple:
        """Two-stage evaluation: materialize each raw frame aggregate ONCE
        (Catalyst instantiates a separate window expression for EVERY
        occurrence of a window Column in a downstream tree — the naive
        7-func build carried 28 window expressions where 8 distinct
        suffice, and sliding frames re-aggregate per row, so duplicates
        multiply real work; r8), then compute the requested funcs as
        row-local arithmetic.  ``w_shift`` is the matching UNORDERED
        partition spec (whole group on the window path, one chunk on the
        two-pass path — any per-frame constant is a valid variance shift,
        and every frame lies inside one chunk).

        ``w`` is either a ``WindowSpec`` (integer/row frames) or a
        ``("expr", partition_cols, order_col, lo, hi)`` tuple for
        FRACTIONAL range frames, aggregated through SQL text
        (:func:`_expr_over`) because the WindowSpec binding can't carry
        fractional offsets.  Both representations evaluate in one
        WindowExec traversal — the expr form parses to the same plan.

        Returns (frame_df_with_result_columns, result_names); helper
        columns are dropped before returning.
        """
        needs_var = any(f in ("var", "std") for f in funcs)
        if needs_var:
            # SHIFTED one-pass moments: variance is shift-invariant, and
            # centering by the group/chunk mean first (one unordered window
            # over the same partitioning — no extra Exchange) kills the
            # catastrophic cancellation of Σx² − (Σx)²/n when |mean| ≫
            # spread (hypothesis found 3.8e-6 relative error vs pandas at
            # values ~1e5 with variance ~0.5; shifted it is ~1 ulp).
            # Residual conditioning bound: a WINDOW whose values sit far
            # from the group mean still one-passes over centered values of
            # that offset's magnitude — absolute error ~ eps·n·max(x−K)²,
            # the same class as pandas' own online rolling var (a window-
            # local two-pass is not expressible as window aggregates).
            frame_df = frame_df.withColumn("__ro_sh", F.avg(clean).over(w_shift))
        # aggregate INPUTS as plain columns, so the expr form (which can
        # only reference names) and the WindowSpec form share one shape
        ins: dict[str, Column] = {"__ro_cc": clean}
        if needs_var:
            c = clean - F.col("__ro_sh")
            ins["__ro_ct"] = c
            ins["__ro_ct2"] = c * c
        frame_df = frame_df.withColumns(ins)
        if isinstance(w, tuple):
            ov = _expr_over(w[1], w[2], w[3], w[4])
            mk = {
                "__ro_n": lambda: ov("count(`__ro_cc`)"),
                "__ro_nr": lambda: ov("count(1)"),
                "__ro_s": lambda: ov("sum(`__ro_cc`)"),
                "__ro_min": lambda: ov("min(`__ro_cc`)"),
                "__ro_max": lambda: ov("max(`__ro_cc`)"),
                "__ro_s2": lambda: ov("sum(`__ro_ct2`)"),
                "__ro_sc": lambda: ov("sum(`__ro_ct`)"),
            }
        else:
            mk = {
                "__ro_n": lambda: F.count("__ro_cc").over(w),
                "__ro_nr": lambda: F.count(F.lit(1)).over(w),
                "__ro_s": lambda: F.sum("__ro_cc").over(w),
                "__ro_min": lambda: F.min("__ro_cc").over(w),
                "__ro_max": lambda: F.max("__ro_cc").over(w),
                "__ro_s2": lambda: F.sum("__ro_ct2").over(w),
                "__ro_sc": lambda: F.sum("__ro_ct").over(w),
            }
        raw: dict[str, Column] = {
            "__ro_n": mk["__ro_n"](),
            "__ro_nr": mk["__ro_nr"](),
        }
        if any(f in ("sum", "mean") for f in funcs):
            raw["__ro_s"] = mk["__ro_s"]()
        if "min" in funcs:
            raw["__ro_min"] = mk["__ro_min"]()
        if "max" in funcs:
            raw["__ro_max"] = mk["__ro_max"]()
        if needs_var:
            raw["__ro_s2"] = mk["__ro_s2"]()
            raw["__ro_sc"] = mk["__ro_sc"]()
        frame_df = frame_df.withColumns(raw)

        n, nrows = F.col("__ro_n"), F.col("__ro_nr")
        exprs: dict[str, Column] = {}
        for f in funcs:
            if f == "count":
                # pandas: count's min_periods gate uses TOTAL frame rows (NaN
                # rows count as observations); every other func gates on valid
                col = F.when(
                    nrows >= F.lit(max(min_periods, 1)), n.cast("double")
                ).otherwise(F.lit(NAN))
                exprs[f"{prefix}{f}"] = col
                continue
            elif f == "sum":
                col = F.coalesce(F.col("__ro_s"), F.lit(0.0))
            elif f == "mean":
                col = F.col("__ro_s") / n
            elif f == "min":
                col = F.col("__ro_min")
            elif f == "max":
                col = F.col("__ro_max")
            else:  # var / std, ddof=1 (pandas default)
                var = (F.col("__ro_s2") - F.col("__ro_sc") * F.col("__ro_sc") / n) / (
                    n - F.lit(1)
                )
                var = F.when(n > 1, F.greatest(var, F.lit(0.0)))
                col = var if f == "var" else F.sqrt(var)
            # short frame → NaN (pandas min_periods)
            col = F.when(n >= F.lit(max(min_periods, 1)), col).otherwise(F.lit(NAN))
            col = F.coalesce(col, F.lit(NAN))
            exprs[f"{prefix}{f}"] = col
        frame_df = frame_df.withColumns(exprs).drop(
            "__ro_sh", "__ro_cc", "__ro_ct", "__ro_ct2",
            "__ro_n", "__ro_nr", "__ro_s", "__ro_min", "__ro_max",
            "__ro_s2", "__ro_sc",
        )
        return frame_df, list(exprs.keys())

    if range_between is not None:
        lo_n, hi_n, frac = _norm_bounds(range_between)
        range_between = (lo_n, hi_n)
    else:
        frac = False
    from .two_pass import choose_tier

    ranged = range_between is not None and range_between[0] <= 0 <= range_between[1]
    if choose_tier(method, df, list(by), idx_col if ranged else None, rows_per_chunk) == "two_pass":
        if range_between is None:
            raise ValueError(
                "method='two_pass' requires range_between= (row-count frames "
                "cannot be chunked arithmetically — the window path handles them)"
            )
        from .two_pass import _CHUNK, rolling_two_pass

        lo, hi = range_between
        if not (lo <= 0 <= hi):
            raise ValueError("two_pass range frames need lo <= 0 <= hi")
        return rolling_two_pass(
            df,
            by,
            idx_col,
            lo,
            hi,
            lambda fdf, w: apply_frames(fdf, w, Window.partitionBy(*by, _CHUNK)),
            rows_per_chunk=rows_per_chunk,
        )

    if range_between is not None and frac:
        w = ("expr", list(by), idx_col, range_between[0], range_between[1])
    else:
        w = Window.partitionBy(*by).orderBy(F.col(idx_col))
        if range_between is not None:
            w = w.rangeBetween(range_between[0], range_between[1])
        else:
            w = w.rowsBetween(-(window - 1), Window.currentRow)
    out_df, _ = apply_frames(df, w, Window.partitionBy(*by))
    return out_df
