"""Core entry points: :func:`groupby_reduce`, :func:`groupby_scan`,
:func:`groupby_agg` — the Spark-native equivalents of the reference's
``flox.groupby_reduce`` (flox/core.py:2269-2284) and ``flox.groupby_scan``
(flox/core.py:2718-2727).

Data model (SURVEY.md §7): a *long* DataFrame — one row per array element —
with a value column, one or more group-label (``by``) columns, and an
optional explicit element-order column (``idx_col``) which supplies the
array order that first/last/arg-reductions/scans depend on.

Query lifecycle → physical plan:

    df.where(by not missing)                 # NaN-label exclusion, core.py:846-849
      .groupBy(*keys).agg(finish(expr))      # HashAggregate(partial) → Exchange
                                             #   → HashAggregate(final): the
                                             # built-in equivalent of flox's
                                             # chunk_reduce + _tree_reduce;
                                             # finish = dtype restore, NA
                                             # coalesce, min_count mask
                                             # (xrdtypes.py:153-209,
                                             # core.py:1144-1168)
      → reindex onto the key domains         # reindex_, core.py:667-712:
                                             # literal → join; observed →
                                             # one-task dense_grid merge
        or sort by keys (sort=True)          # core.py:2680-2686

Every dtype, fill value and key expression is decided in Python from the
input's schema, read once, so a call constructs only a handful of
DataFrames (each construction is one JVM analysis): ``where``, ``agg``, and
the sort or the grid's few projections.

``method=``, ``engine=``, ``reindex=`` are accepted as inert hints: they
select between numpy kernels / dask graph shapes in the reference
(flox/core.py:2215-2266), strategies that Catalyst+AQE subsume (SURVEY.md §4).
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import dtypes as dt_rules
from .aggregations import AGGREGATIONS, SCANS, Aggregation, Ctx, Scan
from .binning import Bins
from .dtypes import NAN
from .plans import _metadata_row_bound
from .reindex import PRESENT, as_labels, dense_grid, expected_groups_df, reindex_result

_NVALID = "__nvalid"


def _make_ctx(
    df: DataFrame,
    value: str,
    idx_col: Optional[str],
    kw: dict,
    bool_to_long: bool = False,
) -> Ctx:
    dt = df.schema[value].dataType
    v = F.col(value)
    if bool_to_long and isinstance(dt, T.BooleanType):
        # expression-level bool->int (the registry's arithmetic-reduction
        # rule) for callers that cannot rewrite the input frame
        v = v.cast("long")
        dt = T.LongType()
    is_float = dt_rules.is_float(dt)
    if is_float:
        missing = v.isNull() | F.isnan(v)
    else:
        missing = v.isNull()
    clean = F.when(~missing, v)
    return Ctx(
        v=v,
        clean=clean,
        missing=missing,
        valid=~missing,
        idx=F.col(idx_col) if idx_col else None,
        dt=dt,
        is_float=is_float,
        kw=kw,
    )


def nullsafe_join(
    left: DataFrame,
    right: DataFrame,
    keys,
    how: str = "inner",
    broadcast: bool = False,
    prefix: str = "__ns_by",
) -> DataFrame:
    """NULL-group-preserving equi-join — THE shared definition (r9
    meta-review: linear.py and two_pass.py had grown twin copies).
    GROUP BY keeps a NULL-key stats row, but a plain equi-join would
    strand those rows: rename the right side's keys into a private
    namespace, join on eqNullSafe, drop the namespace.  Output = left's
    columns + right's payload columns, in that order."""
    keys = list(keys)
    rj = right.select(
        *[F.col(c).alias(f"{prefix}_{i}") for i, c in enumerate(keys)],
        *[c for c in right.columns if c not in keys],
    )
    cond = None
    for i, c in enumerate(keys):
        e = F.col(c).eqNullSafe(F.col(f"{prefix}_{i}"))
        cond = e if cond is None else cond & e
    r = F.broadcast(rj) if broadcast else rj
    return left.join(r, on=cond, how=how).drop(
        *[f"{prefix}_{i}" for i in range(len(keys))]
    )


def _normalize_expected(by, expected_groups):
    """Normalize expected_groups to a tuple aligned with ``by``; Bins objects
    may arrive via expected_groups (flox isbin style) and define both the key
    expression and the expected output domain."""
    nby = len(by)
    if expected_groups is None:
        return (None,) * nby
    if nby == 1 and not isinstance(expected_groups, tuple):
        expected_groups = (expected_groups,)
    if len(expected_groups) != nby:
        raise ValueError("expected_groups must align with by")
    return tuple(expected_groups)


# datetime virtual accessors: group by "ts.month" like the reference's
# xarray front-end groups by "time.month" (flox/xarray.py resolves xarray's
# virtual datetime coordinates; here the accessor compiles to the matching
# map-side Catalyst expression)
_DT_ACCESSORS = {
    "year": F.year,
    "month": F.month,
    "day": F.dayofmonth,
    "hour": F.hour,
    "minute": F.minute,
    "second": F.second,
    "dayofyear": F.dayofyear,
    # pandas/xarray convention: Monday=0..Sunday=6 (Spark's dayofweek is
    # Sunday=1..7 — remap so weekday labels match the reference front-end)
    "dayofweek": lambda c: (F.dayofweek(c) + F.lit(5)) % 7,
    "weekday": lambda c: (F.dayofweek(c) + F.lit(5)) % 7,
    "quarter": F.quarter,
    "week": F.weekofyear,
    "date": F.to_date,
}


def _key_exprs(df, by, expected):
    """Per-grouper ``(key_name, key_expr, key_type, expected_labels)``: the
    unaliased key expression over ``df``'s columns, its Spark type, and the
    expected labels as Python scalars (or ``None``) — all from ``df``'s
    schema, read once, so no JVM analysis runs here."""
    schema = df.schema
    cols = set(schema.names)
    out = []
    for b, exp in zip(by, expected):
        if isinstance(exp, Bins):
            # fall back on collision, like the dt-accessor branch below —
            # a pre-existing '<b>_bin' column would otherwise duplicate
            name = f"{b}_bin"
            while name in cols:
                name = f"__{name}"
            out.append((name, exp.bucket(F.col(b)), T.IntegerType(), exp.expected_codes()))
            continue
        labels = as_labels(exp) if exp is not None else None
        if b not in cols and "." in b:
            col, _, acc = b.rpartition(".")
            if col not in cols or acc not in _DT_ACCESSORS:
                raise ValueError(
                    f"unknown grouper {b!r}: not a column, and not a "
                    f"<ts_column>.<accessor> with accessor in {sorted(_DT_ACCESSORS)}"
                )
            # xarray names the output coord after the accessor ("month");
            # fall back to ts_month on collision with an existing column
            name = acc if acc not in cols else f"{col}_{acc}"
            ktype = T.DateType() if acc == "date" else T.IntegerType()
            out.append((name, _DT_ACCESSORS[acc](F.col(col)), ktype, labels))
        else:
            out.append((b, F.col(b), schema[b].dataType, labels))
    return out


def _key_filter(keys) -> Column:
    """NaN/NULL-label exclusion (ref core.py:846-849): a row whose key is
    missing — or, for bins, out of bounds — belongs to no group."""
    cond = None
    for _, expr, ktype, _ in keys:
        ok = expr.isNotNull()
        if isinstance(ktype, (T.FloatType, T.DoubleType)):
            ok = ok & ~F.isnan(expr)
        cond = ok if cond is None else (cond & ok)
    return cond


def groupby_reduce(
    df: DataFrame,
    *by: str,
    func: Union[str, Aggregation],
    value: str = "value",
    idx_col: Optional[str] = None,
    expected_groups=None,
    sort: bool = True,
    fill_value=None,
    dtype: Optional[str] = None,
    min_count: Optional[int] = None,
    finalize_kwargs: Optional[dict] = None,
    alias: Optional[str] = None,
    skipna: Optional[bool] = None,
    method: Optional[str] = None,  # inert hint (ref core.py:2215-2239)
    engine: Optional[str] = None,  # inert hint (ref core.py:2242-2266)
    reindex: Optional[bool] = None,  # inert hint (ref core.py:2003-2057)
) -> DataFrame:
    """Grouped reduction over a long DataFrame.

    Parameters mirror ``flox.groupby_reduce`` (flox/core.py:2269-2284) with
    DataFrame-native replacements: ``value`` names the data column, ``by``
    are key column names, ``idx_col`` names the element-order column required
    by order-sensitive reductions, ``expected_groups`` entries are lists of
    labels or :class:`Bins`.

    Returns a DataFrame ``(*keys, <alias>)``, one row per (expected or
    observed) group, sorted by keys when ``sort=True``.  With several keys,
    or any expected domain, the rows are the dense grid of the key domains,
    always sorted.
    """
    grouped, keys, out_name, fill = _reduce_groups(
        df, by, func=func, value=value, idx_col=idx_col,
        expected_groups=expected_groups, fill_value=fill_value, dtype=dtype,
        min_count=min_count, finalize_kwargs=finalize_kwargs, alias=alias,
        skipna=skipna,
    )
    # several keys → dense grid (ref _factorize_multiple, core.py:2115-2166)
    return _output(df, grouped, keys, {out_name: fill}, sort, grid=len(keys) > 1)


def _output(df: DataFrame, grouped: DataFrame, keys, fills: dict, sort: bool, grid: bool) -> DataFrame:
    """The output of a finished aggregate (``keys`` as :func:`_key_exprs`,
    ``fills``: value column → fill of an absent group):

    - all domains literal → RIGHT OUTER join onto them (ref reindex_,
      core.py:667-712), sorted.  Through :func:`dense_grid` this ran the
      same 3 jobs but built in 0.13 s, not 0.09 s, and ran in 0.27 s, not
      0.20 s (one key, 4 labels, 100k cached rows, 4 vCPU, median of 8);
    - ``grid``, or a literal domain next to observed ones → the dense grid
      of the key domains (:func:`dense_grid`), always sorted;
    - else the observed groups, sorted when ``sort``."""
    key_names = [k[0] for k in keys]
    labels = [k[3] for k in keys]
    if all(e is not None for e in labels):
        exp_df = expected_groups_df(df.sparkSession, key_names, labels, [k[2] for k in keys])
        grouped = reindex_result(grouped, exp_df, key_names, fills)
    elif grid or any(e is not None for e in labels):
        return dense_grid(grouped, list(zip(key_names, labels)), fills)
    return _sorted_output(grouped, df, key_names, labels) if sort else grouped


def _reduce_groups(df, by, *, func, value="value", idx_col=None, expected_groups=None,
                   fill_value=None, dtype=None, min_count=None, finalize_kwargs=None,
                   alias=None, skipna=None):
    """:func:`groupby_reduce`'s finished aggregate, one row per observed
    group, with what its output needs: ``(aggregate, keys as
    :func:`_key_exprs`, value column name, fill of an absent group)``."""
    if not by:
        raise ValueError("need at least one by column")
    # skipna → nan-variant rewrite (the xarray front-end's dispatch,
    # ref flox/xarray.py:355-380); skipna=False strips a nan* func
    if skipna is not None and isinstance(func, str):
        if skipna and not func.startswith("nan") and f"nan{func}" in AGGREGATIONS:
            func = f"nan{func}"
        elif not skipna and func.startswith("nan") and func[3:] in AGGREGATIONS:
            func = func[3:]
    spec = AGGREGATIONS[func] if isinstance(func, str) else func
    kw = dict(finalize_kwargs or {})
    out_name = alias or spec.name

    expected = _normalize_expected(by, expected_groups)
    keys = _key_exprs(df, by, expected)
    key_names = [k[0] for k in keys]
    any_expected = any(k[3] is not None for k in keys)

    # bool → int cast before arithmetic reductions (ref core.py:2442-2443),
    # on the ctx expressions so no frame is rewritten
    ctx = _make_ctx(df, value, idx_col, kw, bool_to_long=spec.bool_to_int)
    if spec.needs_idx and ctx.idx is None:
        raise ValueError(f"func={spec.name!r} requires idx_col=")

    # min_count defaulting (ref core.py:2545-2557 + aggregations.py:852-858)
    mc = min_count
    if spec.forces_min_count:
        mc = max(mc or 0, 1)
    if mc is None and fill_value is not None and any_expected:
        mc = 1

    # fill literal handling + integral promotion (ref core.py:707-711);
    # user fill_value wins, else the spec's final_fill_value (count→0,
    # prod→1, arg*→−1, any/all→False), else dtype-NA
    result_dt = spec.result_type(ctx.dt, kw) if dtype is None else T._parse_datatype_string(dtype)
    effective_fill = fill_value if fill_value is not None else spec.final_fill
    # a *forced* min_count (nanmin/nanmax) can only mask all-NaN groups,
    # which cannot exist for non-float inputs → no promotion then
    # (flox promotes lazily only when the mask actually fires)
    mc_forced_only = spec.forces_min_count and min_count is None and fill_value is None
    fills_possible = any_expected or (
        mc is not None and not (mc_forced_only and not ctx.is_float)
    )
    if fills_possible and dt_rules.needs_na_promotion(effective_fill, result_dt):
        result_dt = T.DoubleType()
    fill = dt_rules.fill_lit(effective_fill, result_dt)

    def finish(agg: Column, nvalid: Optional[Column]) -> Column:
        # present-group all-missing result → dtype NA (NOT fill_value; fill
        # only applies to min_count-masked and absent expected groups,
        # core.py:1144-1177)
        out = agg.cast(result_dt)
        if dt_rules.is_float(result_dt):
            out = F.coalesce(out, dt_rules.na_lit(result_dt))
        if mc is not None:
            out = F.when(nvalid < F.lit(mc), fill).otherwise(out)
        return out.alias(out_name)

    # 1. NaN/NULL-label exclusion, evaluated map-side and pushed into the
    #    scan where possible; 2. aggregate, finished in the same node
    keyed = df.where(_key_filter(keys))
    if spec.grouped_build == "mode":
        picked = _mode_plan(
            keyed.select(*[e.alias(n) for n, e, _, _ in keys],
                         *[c for c in df.columns if c not in key_names]),
            key_names, value, ctx, skipna=spec.skipna, out=out_name,
            mc_needed=mc is not None,
        )
        grouped = picked.select(
            *key_names,
            finish(F.col(out_name), F.col(_NVALID) if mc is not None else None),
            *_present(keys),
        )
    else:
        grouped = keyed.groupBy(*[e.alias(n) for n, e, _, _ in keys]).agg(
            finish(spec.build(ctx), F.count(ctx.clean) if mc is not None else None),
            *_present(keys),
        )
    return grouped, keys, out_name, fill


def _present(keys) -> list:
    """The marker column :func:`reindex_result` needs, when :func:`_output`
    will join onto literal domains."""
    return [F.lit(True).alias(PRESENT)] if all(k[3] is not None for k in keys) else []


#: outputs bounded by this many rows take a single-task sort (below)
#: instead of a range-partitioned ``orderBy``.  Measured crossover on a
#: 4-vCPU host, worst case (every input row its own group, so the single
#: task merges and sorts all of them): coalesce(1) beats orderBy at 65 536
#: (0.26 s vs 0.45 s), 131 072 (0.30 vs 0.51) and 262 144 rows (0.38 vs
#: 0.52), and loses from 524 288 (0.62 vs 0.52).  With few groups the
#: single task wins at every size.
_SMALL_SORT_MAX = 262_144


def _literal_domain_size(expected) -> Optional[int]:
    """Product of the client-provided expected-domain sizes, or None when any
    grouper's domain is unknown (discovered from data)."""
    size = 1
    for e in expected:
        if e is None:
            return None
        size *= len(e)
    return size


def _sorted_output(result: DataFrame, df: DataFrame, key_names, labels) -> DataFrame:
    """Output-group sort, picked from what bounds the output's rows.

    A global ``orderBy`` range-partitions its child: one extra sampling job
    that re-executes the plan below it, plus a shuffle — on a |groups|-row
    output that costs more than the aggregate.  When the output is known
    small, a single-task sort does the same job:

    - the input's metadata row bound (:func:`_metadata_row_bound`:
      cached-relation stats or parquet footers) is ≤ ``_SMALL_SORT_MAX``,
      and the output is the observed groups (at most the input rows) or a
      literal domain within the cap → ``coalesce(1).sortWithinPartitions``.
      The final aggregate's input is at most the input rows, so one task
      is cheap, and no extra job or exchange runs;
    - only a client-literal expected domain within the cap bounds the
      output → ``repartition(1).sortWithinPartitions``: a ``coalesce``
      here could pull an unbounded zero-exchange plan (a bucketed scan)
      into one task, a round-robin exchange cannot;
    - otherwise (a large domain, an input with no bound) → ``orderBy``,
      which scales."""
    domain = _literal_domain_size(labels)
    if domain is not None and domain > _SMALL_SORT_MAX:
        return result.orderBy(*key_names)
    bound = _metadata_row_bound(df, limit=_SMALL_SORT_MAX)
    if bound is not None and bound <= _SMALL_SORT_MAX:
        return result.coalesce(1).sortWithinPartitions(*key_names)
    if domain is not None:
        return result.repartition(1).sortWithinPartitions(*key_names)
    return result.orderBy(*key_names)


def _mode_plan(keyed, key_names, value, ctx, skipna, out, mc_needed):
    """mode/nanmode two-stage plan (ref: aggregate_npg.py:185-215 —
    scipy.stats.mode; ties broken by smallest value).

    nanmode: nan_policy="omit" → NaN dropped.  bare mode:
    nan_policy="propagate" → any NaN in the group makes the result NaN.

    Stage 1: count per (keys, value); Stage 2: pick the value with the
    highest count, smallest value on ties.  Both stages are shuffle-on-keys
    hash aggregations; at scale the stage-1 combine is map-side partial.
    """
    base = keyed.where(ctx.valid)
    counts = base.groupBy(*key_names, value).agg(F.count(F.lit(1)).alias("__cnt"))
    w = Window.partitionBy(*key_names).orderBy(F.col("__cnt").desc(), F.col(value).asc())
    picked = (
        counts.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(*key_names, F.col(value).alias(out))
    )
    # keep every observed group (incl. all-missing ones) in the output
    groups_df = keyed.groupBy(*key_names).agg(
        (F.max(ctx.missing.cast("int")) == 1).alias("__has_missing")
    )
    picked = picked.join(groups_df, on=key_names, how="right")
    if not skipna and ctx.is_float:
        # propagate: group containing any missing value → NaN
        picked = picked.withColumn(
            out, F.when(F.col("__has_missing"), F.lit(NAN)).otherwise(F.col(out))
        )
    picked = picked.drop("__has_missing")
    if mc_needed:
        nv = keyed.where(ctx.valid).groupBy(*key_names).agg(F.count(F.lit(1)).alias(_NVALID))
        picked = picked.join(nv, on=key_names, how="left").fillna({_NVALID: 0})
    return picked


def groupby_scan(
    df: DataFrame,
    *by: str,
    func: Union[str, Scan],
    value: str = "value",
    idx_col: str = None,
    alias: Optional[str] = None,
    dtype: Optional[str] = None,
    finalize_kwargs: Optional[dict] = None,
    method: str = "auto",
    rows_per_chunk: int = 2_000_000,
) -> DataFrame:
    """Grouped scan: same row count as the input, plus one result column
    (ref: flox.groupby_scan, flox/core.py:2718-2727 — 'result has the same
    shape as array').

    ``method="window"``: a single window expression over
    ``partitionBy(by).orderBy(idx_col)`` — Catalyst's WindowExec gives one
    shuffle on the group keys and a linear scan within partitions.  Optimal
    for many/small groups, but a window routes EACH GROUP TO ONE TASK, so
    few huge groups serialize onto single cores.

    ``method="two_pass"``: the Blelloch-style scalable path (ref:
    flox/core.py:2948-2992 ``dask_groupby_scan`` — blockwise partial scan,
    combined block summaries, blockwise recombine; combine ops
    flox/aggregations.py:653-706).  Groups are split into idx-contiguous
    chunks of ~``rows_per_chunk`` rows via an arithmetic bucketing of
    idx (no extra big-data shuffle), per-chunk states are prefix-combined
    on a tiny table, and the local scan windows on (keys, chunk) — the max
    task is one CHUNK, never one group.  Use for few/huge groups at scale;
    supports the associative funcs (cum{sum,prod,max,min} (+nan), cumcount,
    ffill, bfill) and numeric/timestamp/date idx.  See
    :mod:`dask_groupby_spark.two_pass`.

    ``method="auto"`` (DEFAULT — a user who never reads the scale docs
    still gets the plan that survives few/huge groups): picks two_pass
    when some group exceeds ``rows_per_chunk`` rows AND the func/idx
    dtype support it; otherwise the plain window.  The first call on an
    input probes once (one map-combined count over the key+idx columns,
    skipped when parquet footers already bound the rows); the memo
    serves repeated calls, and nothing is persisted
    (:func:`dask_groupby_spark.two_pass.choose_tier`).

    Rows with missing group labels pass through with a NULL/NaN result
    (the reference excludes code −1 elements from scans likewise).
    """
    if not by:
        raise ValueError("need at least one by column")

    spec = SCANS[func] if isinstance(func, str) else func
    if idx_col is None:
        raise ValueError("groupby_scan requires idx_col= (explicit element order)")
    kw = dict(finalize_kwargs or {})
    out_name = alias or spec.name

    work = df
    # virtual datetime accessor groupers ("ts.month") — same resolution as
    # groupby_reduce; the derived key column is added to the output
    resolved_by = []
    for b in by:
        if b not in work.columns and "." in b:
            name, expr, _, _ = _key_exprs(work, [b], [None])[0]
            work = work.withColumn(name, expr)
            resolved_by.append(name)
        else:
            resolved_by.append(b)
    by = tuple(resolved_by)
    if isinstance(df.schema[value].dataType, T.BooleanType):
        work = work.withColumn(value, F.col(value).cast("long"))
    ctx = _make_ctx(work, value, idx_col, kw)

    if spec.name == "bfill":
        # DESC order + accumulating frame = ffill on the reversed sequence;
        # an unboundedFollowing frame here would be O(n²) per group (Spark
        # re-scans the suffix per row) — see _scan_bfill (r8)
        w = (
            Window.partitionBy(*by)
            .orderBy(F.col(idx_col).desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    elif spec.name in ("shift", "diff"):
        # lag/lead reject row frames — unframed ordered window
        w = Window.partitionBy(*by).orderBy(F.col(idx_col))
    else:
        w = (
            Window.partitionBy(*by)
            .orderBy(F.col(idx_col))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )

    result_dt = spec.result_type(ctx.dt, kw) if dtype is None else T._parse_datatype_string(dtype)

    # missing-label rows: result is NA (excluded from any group's scan)
    label_ok = None
    for b in by:
        k = F.col(b)
        ok = k.isNotNull()
        if isinstance(work.schema[b].dataType, (T.FloatType, T.DoubleType)):
            ok = ok & ~F.isnan(k)
        label_ok = ok if label_ok is None else (label_ok & ok)

    from .two_pass import TWO_PASS_FUNCS, choose_tier

    axis = idx_col if spec.name in TWO_PASS_FUNCS else None
    if choose_tier(method, work, list(by), axis, rows_per_chunk) == "two_pass":
        from .two_pass import scan_two_pass

        ctx.kw["__idx_col_name"] = idx_col
        return scan_two_pass(
            work,
            by,
            spec.name,
            ctx,
            result_dt,
            out_name,
            label_ok,
            dt_rules.na_lit(result_dt),
            rows_per_chunk=rows_per_chunk,
        )

    col = spec.build(ctx, w).cast(result_dt)
    col = F.when(label_ok, col).otherwise(dt_rules.na_lit(result_dt))

    return work.withColumn(out_name, col)


def groupby_describe(
    df: DataFrame,
    *by: str,
    value: str = "value",
    percentiles=(0.25, 0.5, 0.75),
    sort: bool = True,
) -> DataFrame:
    """pandas ``GroupBy.describe`` in one fused pass: count, mean, std
    (ddof=1), min, the requested percentiles (``p25``-style names), max —
    all through :func:`groupby_agg`, so ONE shuffle and one shared hash
    table regardless of how many statistics are requested.

    The percentile members are exact (holistic) — same buffering caveat as
    ``quantile``; swap in ``approx_quantile`` members via ``groupby_agg``
    directly when a hot key demands bounded state.
    """
    funcs = [
        ("count", value, "count"),
        ("nanmean", value, "mean"),
        ("nanstd", value, "std", {"ddof": 1}),
        ("nanmin", value, "min"),
    ]
    for p in percentiles:
        name = f"p{p * 100:g}".replace(".", "_")
        funcs.append(("nanquantile", value, name, {"q": float(p)}))
    funcs.append(("nanmax", value, "max"))
    return groupby_agg(df, *by, funcs=funcs, sort=sort)


def groupby_rank(
    df: DataFrame,
    *by: str,
    value: str = "value",
    method: str = "average",
    ascending: bool = True,
    pct: bool = False,
    idx_col: Optional[str] = None,
    alias: Optional[str] = None,
    execution: str = "auto",
    rows_per_chunk: int = 2_000_000,
) -> DataFrame:
    """Grouped rank transform (pandas ``GroupBy.rank`` parity — a transform
    the reference lacks; same row count as the input, one result column).

    ``method``: "average" (mean rank of ties, float), "min", "max",
    "dense", "first" (order of appearance — requires ``idx_col``).
    Missing values (NULL/NaN) keep a NULL rank (pandas ``na_option="keep"``)
    and never consume a rank.  ``pct=True`` divides by the group's valid
    count.

    ``execution="window"``: ONE window pass over
    ``partitionBy(by)`` — a single Exchange + sort, the same scale class
    as ``groupby_scan``; giant groups serialize in one task, ordered
    ranks cannot salt.  ``execution="two_pass"``: the chunked scalable
    path — ranks order by the VALUE, so chunks bucket on the value and
    every tie adjustment stays chunk-local; global rank = local +
    prefix(valid count) (prefix(distinct count) for dense).  Numeric/
    timestamp/date values only.  (Named ``execution`` because ``method``
    is pandas' tie-rule kwarg here.)  See
    :func:`dask_groupby_spark.two_pass.rank_two_pass`.

    ``execution="auto"`` (DEFAULT): picks two_pass when some group
    exceeds ``rows_per_chunk`` valid rows and the value dtype is
    bucketable; otherwise the window.  The first call probes per-group
    valid-row counts once, the memo serves repeated calls, and nothing
    is persisted.  Identical ranks either way (asserted in
    tests/test_two_pass.py).
    """
    if method not in ("average", "min", "max", "dense", "first"):
        raise ValueError(f"unknown method {method!r}")
    if method == "first" and idx_col is None:
        raise ValueError('method="first" requires idx_col= (appearance order)')
    out_name = alias or "rank"
    v = F.col(value)
    valid = v.isNotNull()
    if isinstance(df.schema[value].dataType, (T.FloatType, T.DoubleType)):
        valid = valid & ~F.isnan(v)
    from .two_pass import choose_tier

    # pass 0 counts valid rows only: missing values never consume a rank
    tier = choose_tier(
        execution, df.where(valid), list(by), value, rows_per_chunk, name="execution"
    )
    if tier == "two_pass":
        from .two_pass import rank_two_pass

        return rank_two_pass(
            df, by, value, method, ascending, pct, idx_col, out_name,
            rows_per_chunk=rows_per_chunk,
        )

    clean = F.when(valid, v)  # NULL for missing → sorts last in both orders

    order = clean.asc_nulls_last() if ascending else clean.desc_nulls_last()
    wp = Window.partitionBy(*by)
    if method == "first":
        w = wp.orderBy(order, F.col(idx_col).asc())
        rank = F.row_number().over(w)
    elif method == "dense":
        rank = F.dense_rank().over(wp.orderBy(order))
        if pct:
            # pandas normalizes dense ranks by the MAX dense rank (number of
            # distinct valid values), not the valid row count; second window
            # shares the partitioning → same single Exchange
            if "__dr" in df.columns:
                raise ValueError(
                    "df column '__dr' collides with groupby_rank's temporary "
                    "— rename it first"
                )
            dr = F.when(valid, rank)
            staged = df.withColumn("__dr", dr)
            denom = F.max("__dr").over(Window.partitionBy(*by))
            col = (
                F.col("__dr").cast("double") / denom
            )
            return staged.withColumn(
                out_name, F.when(F.col("__dr").isNotNull(), col).cast("double")
            ).drop("__dr")
    else:
        min_rank = F.rank().over(wp.orderBy(order))
        if method == "min":
            rank = min_rank
        else:
            # tie count via a zero-width RANGE frame (all peers of the
            # current order value) — same partitioning AND ordering as the
            # rank window, so it fuses into the single WindowExec instead of
            # forcing a second Exchange on (by, value)
            ties = F.count(clean).over(
                wp.orderBy(order).rangeBetween(Window.currentRow, Window.currentRow)
            )
            max_rank = min_rank + ties - 1
            if method == "max":
                rank = max_rank
            else:  # average
                rank = (min_rank + max_rank) / 2.0
    n_valid = F.count(clean).over(wp)
    if pct:
        rank = rank.cast("double") / n_valid
    result_t = "double" if (pct or method == "average") else "long"
    col = F.when(valid, rank.cast(result_t)).otherwise(F.lit(None).cast(result_t))
    return df.withColumn(out_name, col)


def groupby_fill_stat(
    df: DataFrame,
    *by: str,
    value: str,
    func: str = "nanmean",
    out: str = None,
    method: str = "window",
) -> DataFrame:
    """Missing-value imputation with a per-group statistic — pandas
    ``x.fillna(g.transform("mean"))``.  ``func`` ∈ {nanmean, nanmedian,
    nanmin, nanmax}; NaN and NULL both count as missing and are replaced;
    an all-missing group stays missing.

    ``method="window"`` (default): one unordered window over the group
    keys — a single Exchange, no join back; right when groups are
    numerous (each stays small, partitions spread).  ``method="join"``:
    a map-combined groupBy aggregate + NULL-safe broadcast join —
    ZERO big-data Exchange and no one-task-per-group serialization; the
    scale path when groups are few/huge (the stats table must broadcast,
    so group count is the bound).  Same semantics either way, including
    a NULL/NaN-key group filling from its own statistic.
    """
    builders = {
        "nanmean": F.avg,
        "nanmedian": F.median,
        "nanmin": F.min,
        "nanmax": F.max,
    }
    if func not in builders:
        raise ValueError(f"func must be one of {sorted(builders)}")
    out = out or value
    v = F.col(value)
    missing = v.isNull()
    if isinstance(df.schema[value].dataType, (T.FloatType, T.DoubleType)):
        missing = missing | F.isnan(v)
    clean = F.when(~missing, v)
    if method == "join":
        joined = _group_stat_join(
            df, by, [builders[func](clean).alias("__gs")]
        )
        filled = F.when(missing, F.col("__gs")).otherwise(v)
        return _stat_join_select(joined, df, filled, out)
    if method != "window":
        raise ValueError(f"method must be 'window' or 'join', got {method!r}")
    stat = builders[func](clean).over(Window.partitionBy(*by))
    return df.withColumn(out, F.when(missing, stat).otherwise(v))


def _group_stat_join(df: DataFrame, by, aggs: list) -> DataFrame:
    """Transform-op ``method="join"`` plumbing: per-group aggregates
    (map-combined — only tiny partials shuffle) NULL-SAFE broadcast-joined
    back, so the big side never shuffles and no group serializes onto one
    task.  NULL (and NaN) keys match themselves, exactly like window
    partitioning.  Returns the joined frame carrying ``df``'s columns plus
    the aggregate aliases.

    Delegates to :func:`nullsafe_join` (r10 audit): the former inline
    ``df[k].eqNullSafe(stats[k])`` + ``drop(stats[k])`` shape is a
    SELF-join (``stats`` derives from ``df``), and Spark's ambiguous-
    attribute resolution kept the AGGREGATED key column — whose value
    groupBy had float-normalized, so a ``-0.0`` group key came back
    ``0.0`` from the join tier while the window tier preserved the
    row's original bits.  The rename-into-a-private-namespace join
    keeps the left side's key columns verbatim."""
    keys = list(by)
    stats = df.groupBy(*keys).agg(*aggs)
    return nullsafe_join(df, stats, keys, how="left", broadcast=True)


def _stat_join_select(joined: DataFrame, df: DataFrame, result: Column, out: str) -> DataFrame:
    keep = [c for c in df.columns if c != out]
    return joined.select(*keep, result.alias(out))


def groupby_winsorize(
    df: DataFrame,
    *by: str,
    value: str,
    lower: float = 0.01,
    upper: float = 0.99,
    out: str = None,
    method: str = "window",
) -> DataFrame:
    """Per-group winsorization: clip values into the group's
    [lower, upper] exact quantile band (linear interpolation, numpy
    convention — the outlier-capping step of feature pipelines).

    ``method="window"`` (default): both quantiles evaluate in ONE
    unordered window pass over the keys — single Exchange.  Holistic
    like any exact quantile: a giant group buffers in one task.
    ``method="join"``: per-group quantile aggregate + NULL-safe
    broadcast join — zero big-data Exchange, no per-group task; the
    quantile buffer then lives in the (partial-row) aggregation instead
    (swap in ``approx_quantile`` via ``groupby_agg`` + a join when even
    that buffer is too hot).  Missing values pass through unchanged.
    """
    if not (0.0 <= lower <= upper <= 1.0):
        raise ValueError("need 0 <= lower <= upper <= 1")
    out = out or value
    v = F.col(value)
    missing = v.isNull()
    if isinstance(df.schema[value].dataType, (T.FloatType, T.DoubleType)):
        missing = missing | F.isnan(v)
    clean = F.when(~missing, v)
    if method == "join":
        joined = _group_stat_join(
            df,
            by,
            [
                F.percentile(clean, F.lit(float(lower))).alias("__gs_lo"),
                F.percentile(clean, F.lit(float(upper))).alias("__gs_hi"),
            ],
        )
        clipped = F.least(F.greatest(v, F.col("__gs_lo")), F.col("__gs_hi"))
        return _stat_join_select(
            joined, df, F.when(missing, v).otherwise(clipped), out
        )
    if method != "window":
        raise ValueError(f"method must be 'window' or 'join', got {method!r}")
    w = Window.partitionBy(*by)
    lo = F.percentile(clean, F.lit(float(lower))).over(w)
    hi = F.percentile(clean, F.lit(float(upper))).over(w)
    clipped = F.least(F.greatest(v, lo), hi)
    return df.withColumn(out, F.when(missing, v).otherwise(clipped))


def groupby_interpolate(
    df: DataFrame,
    *by: str,
    value: str,
    order_by: "str | list[str]",
    out: str = None,
    limit: int = None,
    method: str = "auto",
    rows_per_chunk: int = 2_000_000,
) -> DataFrame:
    """Per-group LINEAR interpolation of missing values along an ordering
    axis — pandas ``g[value].interpolate(method="index")`` / xarray
    ``interpolate_na(use_coordinate=True)``: each NULL/NaN run fills
    along the straight line between its nearest valid neighbors, with
    the FIRST ordering column as the x-axis, so irregularly-sampled
    series interpolate by time, not by row position (timestamps are
    handled via the exact micros view, ``dtypes.time_to_seconds``).

    ``order_by`` may list extra tie-break columns after the axis (ties
    on the axis get x_next == x_prev → the previous valid value, a
    0/0-free midpoint convention).  Leading/trailing one-sided gaps stay
    missing — compose with :func:`groupby_scan`'s ffill/bfill or
    :func:`groupby_fill_stat` for edge policy.  ``limit`` caps the run
    length filled (pandas ``limit=``): positions > ``limit`` rows past
    the last valid value stay missing.

    Plan: one Exchange on the group keys + ONE in-partition sort shared
    by all four window frames (backward carries of (x, v, row#) with an
    UNBOUNDED PRECEDING frame, forward carries with an UNBOUNDED
    FOLLOWING frame over the SAME sort order) — the lerp itself is
    row-local arithmetic, no join, no second shuffle, hot groups spill
    through the sort like any grouped scan.

    ``method="two_pass"``: the chunked scalable path — anchor carries run
    per axis-bucketed chunk with prefix-combined (rn, x, v) chunk states,
    so one huge series spans many tasks instead of one
    (:func:`dask_groupby_spark.two_pass.interpolate_two_pass`); same
    output, same ``limit`` semantics (the global row number is rebuilt
    from chunk-count prefixes).  ``method="auto"`` (DEFAULT): picks
    two_pass when some group exceeds ``rows_per_chunk`` rows, else the
    window; the first call probes per-group row counts once, the memo
    serves repeated calls, and nothing is persisted.
    """
    from .dtypes import time_to_seconds

    order_cols = [order_by] if isinstance(order_by, str) else list(order_by)
    out = out or value
    clash = {"__x", "__rn", "__xp", "__vp", "__rp", "__xn", "__vn"} & set(
        df.columns
    )
    if clash:
        raise ValueError(
            f"df columns {sorted(clash)} collide with groupby_interpolate's "
            "temporaries — rename them first"
        )
    v = F.col(value)
    missing = v.isNull()
    if isinstance(df.schema[value].dataType, (T.FloatType, T.DoubleType)):
        missing = missing | F.isnan(v)
    x = time_to_seconds(df, order_cols[0])
    if limit is not None and limit < 1:
        raise ValueError("limit must be >= 1")
    from .two_pass import choose_tier

    # the lerp axis is numeric by construction (time_to_seconds / cast),
    # so the only auto gate is group size
    if choose_tier(method, df, list(by), x.cast("double"), rows_per_chunk) == "two_pass":
        from .two_pass import interpolate_two_pass

        return interpolate_two_pass(
            df, by, value, order_cols, out, limit, missing, x,
            rows_per_chunk=rows_per_chunk,
        )
    base = Window.partitionBy(*by).orderBy(*[F.col(c) for c in order_cols])
    # forward-looking carries run over the DESC-reversed sort with the
    # ACCUMULATING unboundedPreceding frame — Spark evaluates unbounded-
    # FOLLOWING frames by re-scanning the partition suffix per row, O(n²)
    # per group (r8: 69 s vs 0.6 s on 20k-row groups at sf0.1); ASC NULLS
    # FIRST ↔ DESC NULLS LAST reverses the total order exactly, costing
    # one extra in-partition sort on the same Exchange
    rev = Window.partitionBy(*by).orderBy(*[F.col(c).desc() for c in order_cols])
    wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wr = rev.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # a row with a valid value but a NULL/NaN ordering-axis value cannot be
    # an interpolation anchor: letting valid_v carry it while valid_x skips
    # it would desynchronize the (x, v) pair and lerp a later gap against
    # mismatched endpoints — all three carries gate on the axis too
    anchor = ~missing & x.isNotNull() & ~F.isnan(x.cast("double"))
    valid_x = F.when(anchor, x)
    valid_v = F.when(anchor, v.cast("double"))
    df2 = df.withColumn("__x", x).withColumn("__rn", F.row_number().over(base))
    valid_rn = F.when(anchor, F.col("__rn"))
    # materialize each carry ONCE: every occurrence of a window Column in a
    # downstream expression tree becomes its own window expression after
    # analysis (frac alone instantiated xp three times), so the lerp reads
    # materialized columns instead (r8)
    df2 = df2.withColumns(
        {
            "__xp": F.last(valid_x, ignorenulls=True).over(wb),
            "__vp": F.last(valid_v, ignorenulls=True).over(wb),
            "__rp": F.last(valid_rn, ignorenulls=True).over(wb),
            "__xn": F.last(valid_x, ignorenulls=True).over(wr),
            "__vn": F.last(valid_v, ignorenulls=True).over(wr),
        }
    )
    xp, vp, rp = F.col("__xp"), F.col("__vp"), F.col("__rp")
    xn, vn = F.col("__xn"), F.col("__vn")
    frac = F.when(xn == xp, F.lit(0.0)).otherwise(
        (F.col("__x") - xp) / (xn - xp)
    )
    lerp = vp + (vn - vp) * frac
    filled = F.when(~missing, v.cast("double")).otherwise(lerp)
    if limit is not None:
        filled = F.when(
            missing & (F.col("__rn") - rp > F.lit(limit)), F.lit(None)
        ).otherwise(filled)
    return df2.withColumn(out, filled).drop(
        "__x", "__rn", "__xp", "__vp", "__rp", "__xn", "__vn"
    )


def groupby_agg(
    df: DataFrame,
    *by: str,
    funcs: Sequence[tuple],
    idx_col: Optional[str] = None,
    expected_groups=None,
    sort: bool = True,
) -> DataFrame:
    """Fused multi-reduction: one shuffle, many aggregates (the Spark analog
    of the reference's fused multi-intermediate pass, flox/core.py:1068-1076 —
    Catalyst shares the scan and hash table across agg columns natively).

    ``funcs``: sequence of ``(func_name, value_col, alias)`` or
    ``(func_name, value_col, alias, finalize_kwargs)``.
    """
    expected = _normalize_expected(by, expected_groups)
    keys = _key_exprs(df, by, expected)

    # each column's dtype restore + NA coalesce rides its aggregate
    # expression; absent expected groups get the column's final_fill (or
    # dtype NA), same semantics as groupby_reduce
    agg_cols = []
    fills = {}
    for item in funcs:
        name, vcol, out = item[0], item[1], item[2]
        kw = dict(item[3]) if len(item) > 3 else {}
        spec = AGGREGATIONS[name]
        if spec.grouped_build:
            raise ValueError(f"{name} cannot be fused; call groupby_reduce separately")
        # the cast rides the ctx EXPRESSIONS (r9 review: casting a
        # throwaway frame never reached the plan and boolean nansum threw)
        ctx = _make_ctx(df, vcol, idx_col, kw, bool_to_long=spec.bool_to_int)
        dt = spec.result_type(ctx.dt, kw)
        col = spec.build(ctx).cast(dt)
        if dt_rules.is_float(dt):
            col = F.coalesce(col, dt_rules.na_lit(dt))
        agg_cols.append(col.alias(out))
        fills[out] = dt_rules.fill_lit(spec.final_fill, dt)

    result = df.where(_key_filter(keys)).groupBy(
        *[e.alias(n) for n, e, _, _ in keys]
    ).agg(*agg_cols, *_present(keys))
    return _output(df, result, keys, fills, sort, grid=False)
