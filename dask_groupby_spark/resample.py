"""Time resampling: grouped reduction onto regular time buckets.

The reference's dominant real-world workload is xarray resampling /
climatology (BASELINE.md: ERA5Resampling, PerfectBlockwiseResampling,
OISST…), which flox executes as groupby_reduce over integer labels that
xarray derives from the time coordinate.  Here the label derivation is part
of the engine: ``resample`` floors each timestamp onto a regular grid
anchored at ``origin`` and reduces per (bucket, *extra keys*), returning the
bucket *start timestamp* as the label column — and, like expected_groups,
optionally a dense bucket axis (every grid step between min and max, empty
buckets filled).

Physical plan: the bucket expression is a map-side column (no join, no
extra stage); the reduction is the standard single-shuffle hash aggregate.
The dense bucket axis is one more key domain of the grid the reduction
already builds (:func:`~dask_groupby_spark.reindex.dense_grid`):
``sequence(min(bucket), max(bucket), step)`` over the aggregate, merged in
the same single-task pass — no join, no second grid.

Calendar frequencies (month/quarter/year) don't have a fixed second width;
those use date_trunc instead of arithmetic flooring.
"""

from __future__ import annotations

from typing import Optional, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import dtypes as dt_rules
from .core import _reduce_groups, groupby_reduce
from .reindex import dense_grid

# fixed-width frequencies in seconds
_FIXED = {
    "second": 1,
    "minute": 60,
    "hour": 3600,
    "day": 86400,
    "week": 7 * 86400,
}
_CALENDAR = ("month", "quarter", "year")


def _parse_every(every: Union[str, int, float]) -> tuple[Optional[float], Optional[str]]:
    """'5 days' → (432000.0, None); 'month' → (None, 'month'); 3600 → (3600.0, None)."""
    if isinstance(every, (int, float)):
        return float(every), None
    parts = every.strip().lower().split()
    if len(parts) == 1:
        unit = parts[0].rstrip("s")
        n = 1.0
    else:
        n = float(parts[0])
        unit = parts[1].rstrip("s")
    if unit in _CALENDAR:
        if n != 1:
            raise ValueError(f"calendar frequency {unit!r} supports only step 1")
        return None, unit
    if unit not in _FIXED:
        raise ValueError(f"unknown frequency unit {unit!r}")
    return n * _FIXED[unit], None


def resample(
    df: DataFrame,
    ts_col: str,
    every: Union[str, int, float],
    func: str,
    value: str,
    *extra_by: str,
    origin: str = "1970-01-01 00:00:00",
    dense: bool = False,
    fill_value=None,
    label: str = "bucket",
    **kwargs,
) -> DataFrame:
    """Reduce ``value`` onto regular time buckets of width ``every``
    (e.g. ``"5 days"``, ``"6 hours"``, ``"month"``), optionally crossed with
    ``extra_by`` keys.  Returns ``(<label> timestamp, *extra_by, <func>)``.

    ``dense=True`` emits every grid step between the observed min and max
    bucket (the resampling-with-missing-groups case, ref
    flox/tests/test_xarray.py:694).  With ``extra_by``, the dense axis is
    the FULL cross grid: every (bucket, observed key combination).  An
    absent cell gets ``fill_value``, else the func's own fill (0 for
    ``count``), else dtype-NA, as a missing cell of a multi-key
    :func:`~dask_groupby_spark.core.groupby_reduce` does.  The output is
    sorted by (bucket, *extra_by) and holds no persisted state.
    """
    width, calendar = _parse_every(every)
    if width is not None and width <= 0:
        raise ValueError(f"every must be a positive width, got {every!r}")
    # canonicalize NTZ → TIMESTAMP so both the date_trunc label dtype and the
    # seconds arithmetic below are well-defined (and match the DuckDB oracle)
    df = dt_rules.normalize_time(df, ts_col)
    ts = F.col(ts_col)
    if calendar:
        bucket = F.date_trunc(calendar, ts)
    else:
        anchor = (
            F.unix_micros(F.lit(origin).cast("timestamp")) / F.lit(1_000_000.0)
        )
        secs = dt_rules.time_to_seconds(df, ts_col)
        bucket = F.timestamp_seconds(
            anchor + F.floor((secs - anchor) / width) * width
        )
    work = df.withColumn(label, bucket)

    # forward fill_value: with extra_by the reduction itself emits the
    # observed cross grid (flox multi-by semantics) and fills missing cells
    if fill_value is not None:
        kwargs.setdefault("fill_value", fill_value)
    if not dense:
        return groupby_reduce(work, label, *extra_by, func=func, value=value, **kwargs)

    if calendar:
        step = f"interval 1 {calendar}"
    else:
        # make_dt_interval keeps fractional-second widths exact — an int()
        # truncation here would build a grid the real buckets don't land on
        step = f"make_dt_interval(0, 0, 0, {float(width)!r})"
    kwargs.pop("sort", None)  # the grid comes out sorted
    grouped, keys, out_name, fill = _reduce_groups(
        work, (label, *extra_by), func=func, value=value, **kwargs
    )
    # the bucket axis spans the observed buckets: the aggregate has one row
    # per observed (bucket, keys) group, so its min/max are the input's
    span = F.sequence(F.min(label), F.max(label), F.expr(step))
    return dense_grid(
        grouped, [(label, span), *[(k[0], k[3]) for k in keys[1:]]], {out_name: fill}
    )
