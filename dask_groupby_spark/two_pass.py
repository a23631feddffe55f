"""Two-pass (Blelloch-style) grouped scans — the 100-TB path.

The plain ``groupby_scan`` executes as ONE window expression over
``partitionBy(keys).orderBy(idx)``: correct, and optimal when groups are
numerous and small, but a Spark window routes EACH GROUP TO ONE TASK.  With
few/huge groups (the climatology shape: 6 return-flag groups over 10^9 rows)
one task scans the whole group while every other core idles — exactly the
failure mode the reference's Blelloch two-pass scan machinery exists to
avoid (ref: flox/core.py:2948-2992 ``dask_groupby_scan``: blockwise partial
scan -> tree-combined block summaries -> blockwise recombine; binary combine
ops in flox/aggregations.py:653-706).

Spark re-expression (this module) — NOT a translation of the dask graph:

1. **Chunking without a range shuffle.**  A tiny per-group aggregate
   ``(min(idx), max(idx), count)`` (map-side combined) is broadcast back and
   each row gets an ARITHMETIC chunk id ``floor((idx - a) / width)`` —
   monotone in ``idx``, so chunks are idx-contiguous within a group, and the
   chunk count adapts per group (``ceil(count / rows_per_chunk)``): small
   groups stay single-chunk (zero overhead), huge groups split into many
   bounded chunks.  No ``repartitionByRange`` pass over the big data, and no
   second big-data consumer of a shuffle (AQE never reuses an Exchange
   across consumers — the broadcast-join branches re-read the pruned
   parquet scan instead, which is the cheap thing to re-read).
2. **Per-chunk states** via ``groupBy(keys, chunk)`` — partial-aggregated
   map-side; the state table has at most ``groups x max_chunks`` rows.
3. **Exclusive prefix of chunk states** per group, ordered by chunk id — a
   window over the TINY state table (one task per group over <= max_chunks
   rows; the reference's tree combine collapses to this because the state
   table fits trivially).
4. **Recombine**: broadcast the offsets back and evaluate the LOCAL scan
   over ``Window.partitionBy(keys, chunk).orderBy(idx)`` — the only
   big-data shuffle in the whole plan (hash on (keys, chunk)), the same
   single-shuffle count as the plain window path, but the max task is one
   CHUNK, never one group.

Ties in ``idx`` across a chunk boundary are safe (same idx value -> same
chunk expression value -> same chunk); ties WITHIN an idx value are
nondeterministically ordered in either path, exactly like the plain window.

Supported funcs: the associative-combine family — cumsum/cumprod/cummax/
cummin (+nan variants), cumcount, ffill, bfill.  ``shift``/``diff`` are
offset-by-rows, not scans with an associative combine; they keep the window
path (their frames need neighbor rows, not a prefix state).

Every two-pass plan (scan, range rolling, interpolate, rank, both EWMA
recurrences, sessionize) starts from the one chunking skeleton
:func:`_chunked` and computes its pass 0 inside its own query: nothing is
persisted, and Spark reuses the stats broadcast across the plan's
branches.  Every caller picks its tier through :func:`choose_tier`.
"""

from __future__ import annotations

from collections import OrderedDict
from typing import Optional, Union

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import dtypes as dt_rules
from .plans import _metadata_row_bound

_CHUNK = "__tp_chunk"
_PROPAGATING = {"cumsum", "cumprod", "cummax", "cummin"}
_SKIP_OF = {
    "cumsum": "nancumsum",
    "cumprod": "nancumprod",
    "cummax": "nancummax",
    "cummin": "nancummin",
}
TWO_PASS_FUNCS = frozenset(
    [
        "cumsum",
        "nancumsum",
        "cumprod",
        "nancumprod",
        "cummax",
        "nancummax",
        "cummin",
        "nancummin",
        "cumcount",
        "ffill",
        "bfill",
    ]
)


def _ns_join(left: DataFrame, right: DataFrame, keys: list) -> DataFrame:
    """Broadcast LEFT join on the group keys (+ chunk) with NULL-SAFE key
    equality — window partitioning treats a NULL key as a real group, so
    the per-group stats/offsets joins must too (r9 review).  Delegates to
    :func:`dask_groupby_spark.core.nullsafe_join` (the one shared
    definition; r9 meta-review)."""
    from .core import nullsafe_join

    return nullsafe_join(
        left, right, keys, how="left", broadcast=True, prefix="__tp_nsby"
    )


def _nan_safe_offsets(
    states: DataFrame, keys: list, dtypes: dict, recur, out_schema: str
) -> DataFrame:
    """``groupBy(keys).applyInPandas(recur)`` with NaN-key round-trip
    protection.  The Arrow/pandas boundary renders a float NaN group key
    as pandas' missing sentinel and hands it back as SQL NULL — the
    null-safe offsets join then misses every NaN-keyed group and the
    inter-chunk carry silently restarts (r10 audit).  Float keys travel
    with a boolean ``isnan`` marker (named ``__tpnan{i}`` — outside the
    ``__tp_`` prefix so the recur functions' passthrough dict carries
    them automatically) and are restored after the UDF."""
    nan_keys = [k for k in keys if dtypes[k] in ("float", "double")]
    if not nan_keys:
        return states.groupBy(*keys).applyInPandas(recur, schema=out_schema)
    marks = {k: f"__tpnan{i}" for i, k in enumerate(nan_keys)}
    src = states.withColumns({m: F.isnan(F.col(k)) for k, m in marks.items()})
    schema = out_schema + "".join(f", `{m}` boolean" for m in marks.values())
    out = src.groupBy(*keys).applyInPandas(recur, schema=schema)
    for k, m in marks.items():
        out = out.withColumn(
            k,
            F.when(F.col(m), F.lit(float("nan"))).otherwise(F.col(k)).cast(dtypes[k]),
        )
    return out.drop(*marks.values())


def _chunked(
    df: DataFrame,
    keys: list,
    axis: Column,
    rows_per_chunk: int,
    max_chunks: Optional[int] = 4096,
    *,
    sentinel: Optional[Column] = None,
    margin: float = 0.0,
    counted: Optional[DataFrame] = None,
    count_as: Optional[str] = None,
    keep_stats: bool = False,
) -> DataFrame:
    """The chunking skeleton of every two-pass plan: pass 0 → chunk count
    → null-safe stats join → chunk id.  Returns ``df`` plus ``__tp_chunk``.

    Pass 0 is :func:`_chunk_stats` over ``counted`` (default ``df``),
    computed inside the caller's query.  A group of n rows gets
    ``ceil(n / rows_per_chunk)`` chunks, at least 1 and at most
    ``max_chunks`` (``None``: no cap).  A row's chunk is
    ``floor((axis - min) / width)`` clamped into the group's chunks —
    monotone in the axis, so chunks are axis-contiguous; a group with a
    single axis value (or none) is one chunk.

    - ``sentinel``: rows that go to chunk −1 (default: a NULL axis).
    - ``margin``: rolling's frame context width; chunks are made at least
      this wide, so a frame only ever reaches the adjacent chunk.
    - ``count_as``: keep the per-group count under this name.
    - ``keep_stats``: keep ``__tp_a``/``__tp_b``/``__tp_c`` (min, max,
      chunk count) for the caller's own chunk-edge arithmetic.
    """
    _no_tp_collisions(df)
    stats = _chunk_stats(df if counted is None else counted, keys, axis)
    one = F.lit(1).cast("long")
    nchunks = F.greatest(one, F.ceil(F.col("__tp_n") / F.lit(rows_per_chunk)))
    if max_chunks is not None:
        nchunks = F.least(F.lit(max_chunks).cast("long"), nchunks)
    if margin > 0:
        span = F.col("__tp_b") - F.col("__tp_a")
        nchunks = F.least(nchunks, F.greatest(one, F.floor(span / F.lit(margin)).cast("long")))
    stats = stats.withColumn("__tp_c", nchunks)
    stats = stats.withColumnRenamed("__tp_n", count_as) if count_as else stats.drop("__tp_n")

    width = (F.col("__tp_b") - F.col("__tp_a")) / F.col("__tp_c").cast("double")
    chunk = F.when(
        F.col("__tp_a").isNull() | (width <= F.lit(0.0)), F.lit(0).cast("long")
    ).otherwise(
        F.least(
            F.col("__tp_c") - 1,
            F.greatest(F.lit(0).cast("long"), F.floor((axis - F.col("__tp_a")) / width)),
        )
    )
    chunk = F.when(
        axis.isNull() if sentinel is None else sentinel, F.lit(-1).cast("long")
    ).otherwise(chunk)
    out = _ns_join(df, stats, keys).withColumn(_CHUNK, chunk)
    return out if keep_stats else out.drop("__tp_a", "__tp_b", "__tp_c")


def _prior(keys: list, desc: bool = False) -> WindowSpec:
    """Exclusive prefix over a group's chunk states in chunk order.  With
    ``desc`` the order is reversed: "following" carries run over the
    reversed order with the accumulating frame, because Spark re-scans an
    unboundedFollowing frame's suffix per row (r8)."""
    order = F.col(_CHUNK).desc() if desc else F.col(_CHUNK)
    return Window.partitionBy(*keys).orderBy(order).rowsBetween(Window.unboundedPreceding, -1)


def _local(keys: list, *order) -> WindowSpec:
    """A chunk's local window, partitioned by (keys, chunk): the plan's one
    big-data shuffle, whose largest task is one chunk."""
    return Window.partitionBy(*keys, _CHUNK).orderBy(*order)


def _upto(w: WindowSpec) -> WindowSpec:
    """The running frame: everything up to the current row."""
    return w.rowsBetween(Window.unboundedPreceding, Window.currentRow)


def _no_tp_collisions(df: DataFrame) -> None:
    """The two-pass temporaries all live in the ``__tp_*`` namespace — fail
    fast if the caller's frame already uses it (the same guard style as
    groupby_interpolate's clash check)."""
    clash = [c for c in df.columns if c.startswith("__tp_")]
    if clash:
        raise ValueError(
            f"df columns {clash} collide with the two-pass temporaries "
            "(__tp_* namespace) — rename them first"
        )


def _select_with_out(big: DataFrame, caller_cols: list, out: str, col: Column) -> DataFrame:
    """Project ``caller_cols`` plus the result ``col`` as ``out``, with
    in-place substitution when ``out`` overwrites an existing column — the
    window path's ``withColumn`` keeps the original position, and the
    two-pass tier must render identically (ADVICE r8: the old
    ``[cols except out] + out`` rebuild moved an overwritten column to the
    last position)."""
    big = big.withColumn("__tp_out", col)
    sel = [
        F.col("__tp_out").alias(out) if c == out else F.col(c)
        for c in caller_cols
    ]
    if out not in caller_cols:
        sel.append(F.col("__tp_out").alias(out))
    return big.select(*sel)


def _idx_numeric(df: DataFrame, idx_col: str) -> Column:
    """idx as an orderable numeric for arithmetic bucketing (timestamps ->
    epoch seconds; dates -> day number).  Monotone in the idx ordering."""
    dt = df.schema[idx_col].dataType
    c = F.col(idx_col)
    if isinstance(dt, T.TimestampType):
        return c.cast("double")
    if isinstance(dt, T.DateType):
        return F.datediff(c, F.lit("1970-01-01")).cast("double")
    if isinstance(dt, T.NumericType):
        return c.cast("double")
    raise ValueError(
        f"two_pass scan needs a numeric/timestamp/date idx_col; got {dt.simpleString()} "
        "(use method='window' for other orderings)"
    )


def _chunk_stats(df: DataFrame, keys: list, idxn) -> DataFrame:
    """Pass 0 of every two-pass plan: the per-group chunking stats —
    min/max of the bucketing axis plus the row count.  Map-side combined,
    column-pruned to keys+axis, KB-class output.  The auto-tier probe
    reads its max count off the same aggregate."""
    return df.groupBy(*keys).agg(
        F.min(idxn).alias("__tp_a"),
        F.max(idxn).alias("__tp_b"),
        F.count(F.lit(1)).alias("__tp_n"),
    )


# Probe memo: (semanticHash, columns, keys, idx expr, file signature) ->
# observed max-group-size from a prior probe THIS session, which answers a
# repeated call in both directions without a job — the two tiers are
# bit-exact (test_two_pass.py parity), so even a semanticHash collision
# could only change the plan shape, never the result.  Bounded LRU.  The file
# signature (ADVICE r11 #3) folds the sorted input-file names plus local
# mtime/size into the key, so a mid-session parquet rewrite (new part-file
# names, or same names with new stat) simply misses the memo and re-probes
# instead of replaying a stale window decision; ``clear_auto_memo()`` is
# the explicit invalidation hook for anything the signature can't see.
_AUTO_MEMO: "OrderedDict[tuple, int]" = OrderedDict()
_AUTO_MEMO_CAP = 64
_MEMO_STAT_FILES = 64  # stat() at most this many local files per key


def clear_auto_memo() -> None:
    """Drop every memoized probe result (explicit invalidation hook for
    pipelines that rewrite input files mid-session in ways the file
    signature cannot observe, e.g. remote object stores)."""
    _AUTO_MEMO.clear()


def _file_signature(df: DataFrame):
    """Cheap freshness component for the probe memo: a hash of the sorted
    input-file URIs, plus mtime_ns/size for local files (capped — name
    hash alone already catches parquet rewrites, which generate fresh
    part-file names)."""
    try:
        files = sorted(df.inputFiles())
    except Exception:
        return None
    if not files:
        return 0
    import os
    from urllib.parse import unquote, urlparse

    sig = []
    for uri in files[:_MEMO_STAT_FILES]:
        u = urlparse(uri)
        if u.scheme in ("file", ""):
            try:
                st = os.stat(unquote(u.path))
                sig.append((uri, st.st_mtime_ns, st.st_size))
                continue
            except OSError:
                pass
        sig.append((uri, None, None))
    return hash((len(files), tuple(files), tuple(sig)))


def _memo_key(df: DataFrame, keys: list, idxn):
    try:
        return (
            df.semanticHash(),
            tuple(df.columns),
            tuple(keys),
            str(idxn),
            _file_signature(df),
        )
    except Exception:
        return None


def dispatch_auto(df: DataFrame, keys: list, idxn, rows_per_chunk: int) -> str:
    """Auto-tier dispatch for the window-shaped ops: ``"two_pass"`` when
    some group of ``df`` exceeds ``rows_per_chunk`` rows, else
    ``"window"``.  Decision ladder, cheapest first:

    1. ``__tp_*`` namespace collision -> window, no job (auto must never
       turn a previously-working call into an error).
    2. Memoized max group size for this (plan, keys, idx) -> either tier,
       no job.
    3. Parquet-footer row bound (:func:`_metadata_row_bound`) <=
       ``rows_per_chunk`` -> window, no job: if the WHOLE frame fits in
       one chunk, no group can exceed it.  Driver-only footer reads —
       this is the common small-scale path.
    4. Otherwise the probe: ``max(count)`` over the per-group chunking
       stats (:func:`_chunk_stats`) — ONE small job, memoized for step 2.
       Nothing is persisted: the two-pass plan computes its own pass 0."""
    if any(c.startswith("__tp_") for c in df.columns):
        return "window"
    key = _memo_key(df, keys, idxn)
    mx = None if key is None else _AUTO_MEMO.get(key)
    if mx is not None:
        _AUTO_MEMO.move_to_end(key)
    else:
        bound = _metadata_row_bound(df, limit=rows_per_chunk)
        if bound is not None and bound <= rows_per_chunk:
            return "window"
        mx = _chunk_stats(df, keys, idxn).agg(F.max("__tp_n")).collect()[0][0] or 0
        if key is not None:
            _AUTO_MEMO[key] = mx
            while len(_AUTO_MEMO) > _AUTO_MEMO_CAP:
                _AUTO_MEMO.popitem(last=False)
    return "two_pass" if mx > rows_per_chunk else "window"


def choose_tier(
    method: str,
    df: DataFrame,
    keys: list,
    axis: Union[Column, str, None],
    rows_per_chunk: int,
    *,
    fallback: str = "window",
    name: str = "method",
) -> str:
    """The one tier decision of every window-shaped op.  ``method`` must
    be ``fallback`` (the op's single-window tier), ``"two_pass"`` or
    ``"auto"``; an explicit tier is returned as is.  ``auto`` picks
    through :func:`dispatch_auto` over ``df`` (the rows pass 0 would
    count), or ``fallback`` when the two-pass tier cannot take the input:
    ``axis`` is None, or names a column that is not numeric, timestamp or
    date.  The first call probes once; the memo serves repeated calls."""
    if method not in (fallback, "two_pass", "auto"):
        raise ValueError(
            f"{name} must be {fallback!r}, 'two_pass', or 'auto', got {method!r}"
        )
    if method != "auto":
        return method
    if isinstance(axis, str):
        try:
            axis = _idx_numeric(df, axis)
        except ValueError:
            axis = None
    if axis is None or dispatch_auto(df, keys, axis, rows_per_chunk) == "window":
        return fallback
    return "two_pass"


def scan_two_pass(
    work: DataFrame,
    by: tuple,
    func_name: str,
    ctx,
    result_dt,
    out_name: str,
    label_ok: Optional[Column],
    na_value: Column,
    rows_per_chunk: int = 2_000_000,
    max_chunks: int = 4096,
) -> DataFrame:
    """Execute one scan func via the two-pass plan.  Returns ``work`` plus
    the result column ``out_name`` — same contract as the window path in
    :func:`dask_groupby_spark.core.groupby_scan`.

    ``ctx`` is the shared scan Ctx (v/clean/missing/valid/idx); ``label_ok``
    the missing-group-label gate (None when no keys can be missing);
    ``na_value`` the NA literal of the result dtype.
    """
    _no_tp_collisions(work)
    if func_name not in TWO_PASS_FUNCS:
        raise ValueError(
            f"func={func_name!r} has no associative combine; two_pass supports "
            f"{sorted(TWO_PASS_FUNCS)} (shift/diff stay on the window path)"
        )
    keys = list(by)
    # Ctx.idx is F.col(idx_col); recover the name from the caller's frame
    # is fragile — require it explicitly via ctx.kw stash instead.
    idx_col_name = ctx.kw["__idx_col_name"]
    big = _chunked(work, keys, _idx_numeric(work, idx_col_name), rows_per_chunk, max_chunks)

    # ---- pass 1: per-(group, chunk) states (tiny output) ------------------
    skip_name = _SKIP_OF.get(func_name, func_name)
    propagating = func_name in _PROPAGATING and ctx.is_float
    state_aggs = _chunk_state_aggs(skip_name, ctx, propagating)
    chunk_states = big.groupBy(*keys, _CHUNK).agg(*state_aggs)

    # ---- exclusive prefix of states per group (tiny window) ---------------
    offsets = chunk_states.select(
        *keys, _CHUNK,
        *_offset_exprs(skip_name, propagating, _prior(keys), _prior(keys, desc=True)),
    )

    # ---- pass 2: local scan + recombine (the ONE big-data shuffle) --------
    out = _ns_join(big, offsets, keys + [_CHUNK])
    # bfill is ffill on the DESC-reversed order — NOT first() over a
    # currentRow..unboundedFollowing frame, which Spark evaluates by
    # re-scanning the chunk suffix per row (O(chunk²), r8 finding)
    idx = F.col(idx_col_name)
    w_local = _upto(_local(keys, idx.desc() if func_name == "bfill" else idx))
    col = _combine(skip_name, ctx, w_local, propagating, result_dt)
    col = col.cast(result_dt)
    if ctx.is_float and func_name not in ("cumcount",):
        # float scans fill never-seen positions with NaN, matching the
        # window-path builders (leading gap stays NaN, not NULL)
        if func_name in ("ffill", "bfill", "cummax", "nancummax", "cummin", "nancummin"):
            col = F.coalesce(col, F.lit(float("nan")).cast(result_dt))
    if label_ok is not None:
        col = F.when(label_ok, col).otherwise(na_value)
    # restore the caller's column order (join(on=keys) fronts the keys),
    # substituting in place when out_name overwrites an existing column
    return _select_with_out(out, work.columns, out_name, col)


def rolling_two_pass(
    df: DataFrame,
    by: tuple,
    idx_col: str,
    lo,
    hi,
    build_exprs,
    rows_per_chunk: int = 2_000_000,
    max_chunks: int = 4096,
) -> DataFrame:
    """Two-pass execution for RANGE-frame rolling aggregates
    (``rangeBetween(lo, hi)``, lo <= 0 <= hi, both finite).

    Row-count frames cannot be chunked arithmetically (the "last W rows of
    a chunk" is not a function of idx values), but a range frame's context
    width IS: a row's frame spans idx values within ``[idx+lo, idx+hi]``,
    so replicating each chunk's tail ``|lo|``-width rows into the NEXT
    chunk and its head ``hi``-width rows into the PREVIOUS one makes every
    chunk self-contained.  Chunk width is clamped to at least
    ``max(|lo|, hi)`` so context only ever comes from the adjacent chunk;
    replicas are flagged and dropped from the output, so each output row's
    frame is exactly the single-window answer.  One big-data shuffle
    (hash on (keys, chunk)), max task = one chunk + its fringe.

    ``build_exprs(frame_df, w) -> (DataFrame, [names])`` receives the
    fringe-replicated frame and the local window spec and appends the
    output columns (the caller's existing two-stage builder — semantics
    stay in rolling.py, only the partitioning here).
    """
    keys = list(by)
    idxn = _idx_numeric(df, idx_col)
    # chunk width must be >= the context margin, so fringe replication
    # never has to reach beyond the adjacent chunk
    joined = _chunked(
        df, keys, idxn, rows_per_chunk, max_chunks,
        margin=float(max(-lo, hi, 0.0)), keep_stats=True,
    )
    c0 = F.col(_CHUNK)
    width = (F.col("__tp_b") - F.col("__tp_a")) / F.col("__tp_c").cast("double")

    # fringe replication: (chunk, is_ctx) membership array, exploded.
    # tail rows (within |lo| of the chunk's upper edge) also serve chunk+1;
    # head rows (within hi of the lower edge) also serve chunk-1.
    upper = F.col("__tp_a") + (c0 + 1).cast("double") * width
    lower = F.col("__tp_a") + c0.cast("double") * width
    members = F.array(F.struct(c0.alias("c"), F.lit(0).alias("ctx")))
    if lo < 0:
        members = F.when(
            (c0 >= 0) & (c0 < F.col("__tp_c") - 1) & (idxn >= upper - F.lit(-lo)),
            F.concat(members, F.array(F.struct((c0 + 1).alias("c"), F.lit(1).alias("ctx")))),
        ).otherwise(members)
    if hi > 0:
        members = F.when(
            (c0 > 0) & (idxn < lower + F.lit(hi)),
            F.concat(members, F.array(F.struct((c0 - 1).alias("c"), F.lit(1).alias("ctx")))),
        ).otherwise(members)
    big = (
        joined.withColumn("__tp_m", F.explode(members))
        .withColumn(_CHUNK, F.col("__tp_m.c"))
        .withColumn("__tp_ctx", F.col("__tp_m.ctx"))
        .drop("__tp_m", "__tp_a", "__tp_b", "__tp_c")
    )

    if float(lo).is_integer() and float(hi).is_integer():
        w_local = _local(keys, F.col(idx_col)).rangeBetween(int(lo), int(hi))
    else:
        # fractional range offsets: the WindowSpec binding is integer-only,
        # so hand the caller the SQL-text frame representation its
        # apply_frames consumes (see rolling._expr_over) — same plan, the
        # offsets just travel as SQL literals
        w_local = ("expr", keys + [_CHUNK], idx_col, lo, hi)
    out, names = build_exprs(big, w_local)
    return out.where(F.col("__tp_ctx") == 0).select(*df.columns, *names)


def interpolate_two_pass(
    df: DataFrame,
    by: tuple,
    value: str,
    order_cols: list,
    out: str,
    limit,
    missing: Column,
    x: Column,
    rows_per_chunk: int = 2_000_000,
    max_chunks: int = 4096,
) -> DataFrame:
    """Two-pass execution of :func:`~dask_groupby_spark.core.
    groupby_interpolate` — same linear-interpolation semantics, but the
    forward/backward anchor carries run per CHUNK with prefix-combined
    chunk states instead of one whole-group window, so a huge series
    spans many tasks.

    Chunks bucket on the interpolation AXIS (the first order column), so
    axis ties can never straddle a boundary; the global row number (the
    ``limit=`` gap metric) is rebuilt as local row_number + the prefix of
    chunk row counts, and each anchor state ships (global rn, x, v) —
    exactly the reference Blelloch shape with a 3-tuple combine.
    NULL/NaN-axis rows are non-anchors (same gate as the window path) and
    bucket to chunk −1 with NULL results for their missing values.
    """
    keys = list(by)
    v = F.col(value)
    anchor = ~missing & x.isNotNull() & ~F.isnan(x.cast("double"))
    idxn = x.cast("double")
    big = _chunked(
        df, keys, idxn, rows_per_chunk, max_chunks, sentinel=idxn.isNull() | F.isnan(idxn)
    )

    base = _local(keys, *[F.col(c) for c in order_cols])
    # forward carries run on the EXACT order reversal with the accumulating
    # frame (unboundedFollowing frames are O(chunk²) in Spark — r8 finding,
    # same fix as the window path)
    wb = _upto(base)
    wr = _upto(_local(keys, *[F.col(c).desc() for c in order_cols]))
    big = big.withColumn("__tp_rnl", F.row_number().over(base))

    # ---- tiny chunk-state table: row count + edge anchors ----------------
    a_struct = F.when(
        anchor, F.struct(F.col("__tp_rnl").alias("rn"), idxn.alias("x"), v.cast("double").alias("v"))
    )
    states = big.groupBy(*keys, _CHUNK).agg(
        F.count(F.lit(1)).alias("__tp_cnt"),
        F.max(a_struct).alias("__tp_last_a"),   # rn_local IS the in-chunk order
        F.min(a_struct).alias("__tp_first_a"),
    )
    w_prec, w_follow = _prior(keys), _prior(keys, desc=True)
    pre_cnt = F.coalesce(F.sum("__tp_cnt").over(w_prec), F.lit(0).cast("long"))
    states = states.withColumn("__tp_pre", pre_cnt).withColumn(
        # globalize the last-anchor row number BEFORE shipping it forward
        "__tp_last_g",
        F.when(
            F.col("__tp_last_a").isNotNull(),
            F.struct(
                (F.col("__tp_last_a.rn") + F.col("__tp_pre")).alias("rn"),
                F.col("__tp_last_a.x").alias("x"),
                F.col("__tp_last_a.v").alias("v"),
            ),
        ),
    )
    offsets = states.select(
        *keys,
        _CHUNK,
        "__tp_pre",
        F.last("__tp_last_g", ignorenulls=True).over(w_prec).alias("__tp_off_b"),
        # w_follow is DESC-ordered/exclusive: last == nearest FOLLOWING
        # chunk's first anchor
        F.last("__tp_first_a", ignorenulls=True).over(w_follow).alias("__tp_off_f"),
    )

    # ---- recombine --------------------------------------------------------
    big = _ns_join(big, offsets, keys + [_CHUNK])
    valid_x = F.when(anchor, idxn)
    valid_v = F.when(anchor, v.cast("double"))
    valid_rn = F.when(anchor, F.col("__tp_rnl"))
    # materialize each carry ONCE (each occurrence in the lerp tree would
    # otherwise instantiate its own window expression — r8)
    big = big.withColumns(
        {
            "__tp_xp": F.coalesce(
                F.last(valid_x, ignorenulls=True).over(wb), F.col("__tp_off_b.x")
            ),
            "__tp_vp": F.coalesce(
                F.last(valid_v, ignorenulls=True).over(wb), F.col("__tp_off_b.v")
            ),
            "__tp_rp": F.coalesce(
                F.last(valid_rn, ignorenulls=True).over(wb) + F.col("__tp_pre"),
                F.col("__tp_off_b.rn"),
            ),
            "__tp_xn": F.coalesce(
                F.last(valid_x, ignorenulls=True).over(wr), F.col("__tp_off_f.x")
            ),
            "__tp_vn": F.coalesce(
                F.last(valid_v, ignorenulls=True).over(wr), F.col("__tp_off_f.v")
            ),
        }
    )
    xp, vp, rp = F.col("__tp_xp"), F.col("__tp_vp"), F.col("__tp_rp")
    xn, vn = F.col("__tp_xn"), F.col("__tp_vn")
    rn_g = F.col("__tp_rnl") + F.coalesce(F.col("__tp_pre"), F.lit(0).cast("long"))

    frac = F.when(xn == xp, F.lit(0.0)).otherwise((idxn - xp) / (xn - xp))
    lerp = vp + (vn - vp) * frac
    filled = F.when(~missing, v.cast("double")).otherwise(lerp)
    if limit is not None:
        filled = F.when(
            missing & (rn_g - rp > F.lit(limit)), F.lit(None)
        ).otherwise(filled)
    # restore the caller's column order with in-place substitution when
    # out == value (the window path's withColumn semantics)
    return _select_with_out(big, df.columns, out, filled)


def _chunk_state_aggs(skip_name: str, ctx, propagating: bool) -> list:
    """Aggregates producing one state row per (group, chunk).  Order inside
    a groupBy is nondeterministic, so order-sensitive states (ffill's
    last-valid, bfill's first-valid) use struct-max/min over (idx, value) —
    NULL structs (invalid rows) are skipped by max/min."""
    aggs = []
    if skip_name == "nancumsum":
        aggs.append(F.sum(ctx.clean).alias("__tp_sum"))
    elif skip_name == "cumcount":
        # count only — the value sum was dead work lumped in with nancumsum
        # (r9 review: _combine's cumcount branch never read __tp_o_sum)
        aggs.append(F.count(ctx.clean).alias("__tp_cnt"))
    elif skip_name == "nancumprod":
        aggs.append(F.product(ctx.clean).alias("__tp_prod"))
    elif skip_name == "nancummax":
        aggs.append(F.max(ctx.clean).alias("__tp_max"))
    elif skip_name == "nancummin":
        aggs.append(F.min(ctx.clean).alias("__tp_min"))
    elif skip_name == "ffill":
        aggs.append(
            F.max(F.when(ctx.valid, F.struct(ctx.idx.alias("i"), ctx.clean.alias("v"))))[
                "v"
            ].alias("__tp_edge")
        )
    elif skip_name == "bfill":
        aggs.append(
            F.min(F.when(ctx.valid, F.struct(ctx.idx.alias("i"), ctx.clean.alias("v"))))[
                "v"
            ].alias("__tp_edge")
        )
    if propagating:
        aggs.append(F.max(ctx.missing.cast("int")).alias("__tp_miss"))
    return aggs


def _offset_exprs(skip_name: str, propagating: bool, w_prec, w_follow) -> list:
    """Running combine of chunk states over PRECEDING chunks (following, for
    bfill) — the exclusive prefix each chunk's local scan gets added to."""
    out = []
    if skip_name == "nancumsum":
        out.append(F.sum("__tp_sum").over(w_prec).alias("__tp_o_sum"))
    elif skip_name == "cumcount":
        out.append(F.sum("__tp_cnt").over(w_prec).alias("__tp_o_cnt"))
    elif skip_name == "nancumprod":
        out.append(F.product("__tp_prod").over(w_prec).alias("__tp_o_prod"))
    elif skip_name == "nancummax":
        out.append(F.max("__tp_max").over(w_prec).alias("__tp_o_max"))
    elif skip_name == "nancummin":
        out.append(F.min("__tp_min").over(w_prec).alias("__tp_o_min"))
    elif skip_name == "ffill":
        out.append(F.last("__tp_edge", ignorenulls=True).over(w_prec).alias("__tp_o_fill"))
    elif skip_name == "bfill":
        # w_follow is DESC-ordered with an exclusive accumulating frame, so
        # last() here == "nearest following chunk's first-anchor"
        out.append(F.last("__tp_edge", ignorenulls=True).over(w_follow).alias("__tp_o_fill"))
    if propagating:
        out.append(F.max("__tp_miss").over(w_prec).alias("__tp_o_miss"))
    return out


def _combine(skip_name: str, ctx, w_local, propagating: bool, result_dt) -> Column:
    """local scan ⊕ broadcast offset — the Blelloch recombine (ref binary
    ops: flox/aggregations.py:653-706)."""
    sum_dt = dt_rules.sum_result_type(ctx.dt)
    if skip_name == "nancumsum":
        local = F.sum(ctx.clean).over(w_local)
        zero = F.lit(0).cast(sum_dt)
        out = F.coalesce(local, zero) + F.coalesce(F.col("__tp_o_sum").cast(sum_dt), zero)
    elif skip_name == "nancumprod":
        local = F.product(ctx.clean).over(w_local)
        one = F.lit(1).cast(sum_dt)
        out = F.coalesce(local, one) * F.coalesce(F.col("__tp_o_prod").cast(sum_dt), one)
    elif skip_name == "nancummax":
        out = F.greatest(F.max(ctx.clean).over(w_local), F.col("__tp_o_max"))
    elif skip_name == "nancummin":
        out = F.least(F.min(ctx.clean).over(w_local), F.col("__tp_o_min"))
    elif skip_name == "cumcount":
        out = F.count(ctx.clean).over(w_local) + F.coalesce(
            F.col("__tp_o_cnt").cast("long"), F.lit(0).cast("long")
        )
    elif skip_name == "ffill":
        out = F.coalesce(
            F.last(ctx.clean, ignorenulls=True).over(w_local), F.col("__tp_o_fill")
        )
    elif skip_name == "bfill":
        # w_local is DESC-ordered (see scan_two_pass): last == backward fill
        out = F.coalesce(
            F.last(ctx.clean, ignorenulls=True).over(w_local), F.col("__tp_o_fill")
        )
    else:  # pragma: no cover
        raise AssertionError(skip_name)
    if propagating:
        # NaN-propagating variant: any missing value in a PRIOR chunk, or
        # earlier in THIS chunk, poisons the position (window-path parity)
        local_msf = F.max(ctx.missing.cast("int")).over(w_local)
        poisoned = (F.coalesce(F.col("__tp_o_miss"), F.lit(0)) == 1) | (local_msf == 1)
        out = F.when(poisoned, F.lit(float("nan")).cast(result_dt)).otherwise(out)
    return out


def rank_two_pass(
    df: DataFrame,
    by: tuple,
    value: str,
    method: str,
    ascending: bool,
    pct: bool,
    idx_col,
    out_name: str,
    rows_per_chunk: int = 2_000_000,
    max_chunks: int = 4096,
) -> DataFrame:
    """Two-pass execution of :func:`~dask_groupby_spark.core.groupby_rank`
    — identical pandas-parity semantics, chunked so one huge group spans
    many tasks instead of one.

    Ranks order by the VALUE itself, so chunks bucket on the value (negated
    for descending): equal values land in one chunk by construction, which
    makes every tie adjustment (min/max/average peers, dense steps,
    first-method idx ordering) chunk-local, and the global rank is just
    ``local + prefix(valid-count)`` (``prefix(distinct-count)`` for dense).
    Missing values (NULL rank, never consuming a rank) ride through in a
    sentinel chunk.  Numeric/timestamp/date values only — the window path
    handles arbitrary orderable types.
    """
    _no_tp_collisions(df)
    keys = list(by)
    v = F.col(value)
    valid = v.isNotNull()
    if isinstance(df.schema[value].dataType, (T.FloatType, T.DoubleType)):
        valid = valid & ~F.isnan(v)
    clean = F.when(valid, v)
    vnum = _idx_numeric(df, value)  # raises for non-bucketable value types
    # pass 0 counts valid rows only (NULL/NaN values never consume a rank)
    # and keeps that count as pct's denominator; missing values take the
    # sentinel chunk and a NULL rank below
    big = _chunked(
        df, keys, vnum if ascending else -vnum, rows_per_chunk, max_chunks,
        sentinel=~valid, counted=df.where(valid), count_as="__tp_nv",
    )

    # ---- tiny per-(group, chunk) states ----------------------------------
    states = (
        big.where(F.col(_CHUNK) >= 0)
        .groupBy(*keys, _CHUNK)
        .agg(
            F.count(clean).alias("__tp_cnt"),
            F.count_distinct(clean).alias("__tp_nd"),
        )
    )
    w_prec = _prior(keys)
    w_all = Window.partitionBy(*keys)
    offsets = states.select(
        *keys,
        _CHUNK,
        F.coalesce(F.sum("__tp_cnt").over(w_prec), F.lit(0).cast("long")).alias("__tp_pre"),
        F.coalesce(F.sum("__tp_nd").over(w_prec), F.lit(0).cast("long")).alias("__tp_pre_nd"),
        F.sum("__tp_nd").over(w_all).alias("__tp_tot_nd"),
    )

    # ---- local rank + recombine ------------------------------------------
    big = _ns_join(big, offsets, keys + [_CHUNK])
    order = clean.asc_nulls_last() if ascending else clean.desc_nulls_last()
    pre = F.coalesce(F.col("__tp_pre"), F.lit(0).cast("long"))
    if method == "first":
        rank = F.row_number().over(_local(keys, order, F.col(idx_col).asc())) + pre
    elif method == "dense":
        rank = F.dense_rank().over(_local(keys, order)) + F.coalesce(
            F.col("__tp_pre_nd"), F.lit(0).cast("long")
        )
    else:
        min_rank = F.rank().over(_local(keys, order)) + pre
        if method == "min":
            rank = min_rank
        else:
            ties = F.count(clean).over(
                _local(keys, order).rangeBetween(Window.currentRow, Window.currentRow)
            )
            max_rank = min_rank + ties - 1
            rank = max_rank if method == "max" else (min_rank + max_rank) / 2.0
    if pct:
        denom = (
            F.col("__tp_tot_nd")
            if method == "dense"
            else F.col("__tp_nv")  # total valid count from the stats join
        )
        rank = rank.cast("double") / denom
    result_t = "double" if (pct or method == "average") else "long"
    col = F.when(valid, rank.cast(result_t)).otherwise(F.lit(None).cast(result_t))
    return _select_with_out(big, df.columns, out_name, col)


def ewma_two_pass(
    df: DataFrame,
    by: tuple,
    value: str,
    idx_col: str,
    alpha: float,
    adjust: bool,
    ignore_na: bool,
    out: str,
    rows_per_chunk: int = 100_000,
) -> DataFrame:
    """Two-pass grouped EWMA — pandas ``ewm(alpha).mean()`` parity without
    routing each group to one task (the applyInPandas tier's bound).

    EWMA is a linear recurrence, but the CLOSED form per valid row t is a
    pair of geometric sums, ``y_t = N_t / D_t`` with
    ``N_t = Σ c_i·x_i·β^(e_t − e_i)`` (β = 1−α; e = row ordinal, or valid
    ordinal when ``ignore_na``; c_i = α for adjust=False except the
    group's first valid observation, else 1 — α cancels for adjust=True).
    Segmented: within a chunk both sums are running window sums of
    ``u_i = c_i·x_i·β^(−el_i)`` (LOCAL ordinals — the exponent is bounded
    by the chunk span, which is clamped so β^(−span) stays finite), and the
    β^(el) prefactor CANCELS in the ratio, so the final value is exactly
    ``(R_c + Σu) / (Q_c + Σw)`` where (R, Q) are per-chunk carries obeying
    ``R_{c+1} = β^{L_c}·(R_c + ΣN_c)`` — a recurrence over at most a few
    thousand chunk states per group, evaluated in one Arrow step over the
    TINY state table (the reference's own pattern: big data stays JVM,
    KB-scale combine state may use Python).  NaN positions carry the
    previous EWMA forward (``R/Q`` at chunk entry — the β factors cancel
    there too), NULL until the first valid observation, exactly pandas.
    The renormalizing ``adjust=False, ignore_na=False`` mode routes to
    :func:`_ewma_affine_two_pass` (affine-step composition).
    """
    import pandas as pd

    if not (0.0 < alpha < 1.0):
        raise ValueError(
            "ewma two_pass needs 0 < alpha < 1 (alpha=1 is plain "
            "carry-forward of the value — use the default path)"
        )
    if not adjust and not ignore_na:
        # pandas adjust=False + ignore_na=False is the RENORMALIZING
        # recursion (old_wt resets to 1 after every observation) — an
        # AFFINE, not geometric, recurrence across gaps; it has its own
        # two-pass formulation via affine-step composition.
        return _ewma_affine_two_pass(df, by, value, idx_col, alpha, out, rows_per_chunk)
    beta = 1.0 - alpha
    keys = list(by)
    v = F.col(value).cast("double")
    valid = v.isNotNull() & ~F.isnan(v)
    big, span_bound = _ewma_chunked(df, keys, idx_col, alpha, rows_per_chunk)

    base = _local(keys, F.col(idx_col))
    wb = _upto(base)
    rl = F.row_number().over(base) - 1          # local row ordinal
    vl = F.count(F.when(valid, 1)).over(wb) - 1  # local valid ordinal (at valid rows)
    el = vl if ignore_na else rl
    big = big.withColumn("__tp_el", F.when(valid, el)).withColumn(
        "__tp_vl", F.count(F.when(valid, 1)).over(wb)
    )
    # exponent-safety: enforced exactly in the Arrow step below (chunk spans
    # come from value-bucketing idx, so skew could exceed rpc)
    bexp = F.pow(F.lit(beta), -F.col("__tp_el"))
    # ---- per-chunk states --------------------------------------------------
    state_L = (
        F.count(F.when(valid, 1)) if ignore_na else F.count(F.lit(1))
    )
    chunk_states = (
        big.where(F.col(_CHUNK) >= 0)
        .groupBy(*keys, _CHUNK)
        .agg(
            state_L.alias("__tp_L"),
            F.sum(F.when(valid, v * F.pow(F.lit(beta), -F.col("__tp_el")))).alias("__tp_sn"),
            F.sum(F.when(valid, F.pow(F.lit(beta), -F.col("__tp_el")))).alias("__tp_sw"),
            F.sum(F.when(valid, v * F.pow(F.lit(beta), -F.col("__tp_el")) * F.lit(alpha))).alias("__tp_sna"),
            F.sum(F.when(valid, F.pow(F.lit(beta), -F.col("__tp_el")) * F.lit(alpha))).alias("__tp_swa"),
            F.count(F.when(valid, 1)).alias("__tp_nv"),
            F.max(F.when(valid & (F.col("__tp_vl") == 1), v)).alias("__tp_x_first"),
            F.max(F.when(valid & (F.col("__tp_vl") == 1), F.col("__tp_el"))).alias("__tp_e_first"),
        )
    )

    out_schema = (
        f"{_key_schema(df, keys)}, `{_CHUNK}` long, `__tp_R` double, `__tp_Q` double, "
        "`__tp_pre_valid` long, `__tp_y_prev` double"
    )
    adj = bool(adjust)
    ign = bool(ignore_na)
    a_, b_ = float(alpha), float(beta)
    sb_ = span_bound

    def _num(x) -> float:
        # SQL NULL arrives as None OR NaN depending on the Arrow/pandas
        # boundary; both mean "no valid rows contributed" here — and
        # `NaN or 0.0` is NaN (NaN is truthy), which silently poisoned the
        # carry after an all-NaN chunk (r8 soak counterexample)
        if x is None:
            return 0.0
        x = float(x)
        return 0.0 if x != x else x

    def recur(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(_CHUNK, kind="mergesort").reset_index(drop=True)
        R = Q = 0.0
        pre_valid = 0
        out_rows = []
        for _, r in pdf.iterrows():
            L = int(r["__tp_L"])
            if L > sb_:
                raise ValueError(
                    f"ewma two_pass: chunk span {L} exceeds the exponent-safe "
                    f"bound {sb_} (idx values too skewed for alpha={a_}); "
                    "use the default applyInPandas path"
                )
            rec = {k: r[k] for k in pdf.columns if not k.startswith("__tp_")}
            rec[_CHUNK] = int(r[_CHUNK])
            rec["__tp_R"] = R
            rec["__tp_Q"] = Q
            rec["__tp_pre_valid"] = pre_valid
            rec["__tp_y_prev"] = (R / Q) if Q > 0.0 else None
            out_rows.append(rec)
            # advance the carry past this chunk
            if adj:
                sn = _num(r["__tp_sn"])
                sw = _num(r["__tp_sw"])
            else:
                # adjust=False: every valid term weights alpha EXCEPT the
                # group's first valid observation (weight 1).  If that first
                # observation lives in THIS chunk, add back (1-alpha)·its
                # term (we summed it with alpha).
                sn = _num(r["__tp_sna"])
                sw = _num(r["__tp_swa"])
                if pre_valid == 0 and int(r["__tp_nv"]) > 0:
                    xf = r["__tp_x_first"]
                    ef = r["__tp_e_first"]
                    if xf is not None and ef is not None:
                        corr = b_ ** (-float(ef))
                        sn += (1.0 - a_) * float(xf) * corr
                        sw += (1.0 - a_) * corr
            decay = b_ ** L
            R = decay * (R + sn)
            Q = decay * (Q + sw)
            pre_valid += int(r["__tp_nv"])
        return pd.DataFrame(out_rows)

    offsets = _nan_safe_offsets(
        chunk_states, keys, dict(df.dtypes), recur, out_schema
    )

    # ---- recombine ---------------------------------------------------------
    big = _ns_join(big, offsets, keys + [_CHUNK])
    gv = F.col("__tp_vl") + F.coalesce(F.col("__tp_pre_valid"), F.lit(0).cast("long"))
    if adjust:
        c_i = F.lit(1.0)
    else:
        c_i = F.when(gv == 1, F.lit(1.0)).otherwise(F.lit(alpha))
    sn = F.sum(F.when(valid, v * bexp * c_i).otherwise(F.lit(0.0))).over(wb)
    sw = F.sum(F.when(valid, bexp * c_i).otherwise(F.lit(0.0))).over(wb)
    num = F.coalesce(F.col("__tp_R"), F.lit(0.0)) + sn
    den = F.coalesce(F.col("__tp_Q"), F.lit(0.0)) + sw
    y_valid = F.when(valid & (den > 0), num / den)
    # NaN positions carry the last EWMA forward; before any valid: NaN
    # undefined (before the group's first valid observation) stays NULL —
    # the same rendering the applyInPandas tier produces through Arrow
    y = F.coalesce(
        F.last(y_valid, ignorenulls=True).over(wb),
        F.col("__tp_y_prev"),
    )
    return _select_with_out(big, df.columns, out, y.cast("double"))


def _ewma_chunked(df: DataFrame, keys: list, idx_col: str, alpha: float, rows_per_chunk: int):
    """The chunking of both EWMA recurrences: chunks of at most half the
    exponent-safe span, with no ``max_chunks`` cap — the exponent safety
    takes precedence, and the state table grows to n/rpc rows per group,
    still KB/MB class.  Returns (chunked frame, span bound)."""
    import math

    # raise-bound = 280 decimal digits of double headroom; chunks TARGET
    # half of it, because value-bucketed chunk sizes track idx density and
    # drift a few percent around the target
    span_bound = max(16, int(280.0 / max(1e-12, -math.log10(1.0 - alpha))))
    rpc = min(rows_per_chunk, max(8, span_bound // 2))
    return _chunked(df, keys, _idx_numeric(df, idx_col), rpc, None), span_bound


def _key_schema(df: DataFrame, keys: list) -> str:
    """DDL of the group keys, the head of an Arrow recurrence's schema."""
    types = dict(df.dtypes)
    return ", ".join(f"`{k}` {types[k]}" for k in keys)


def sessionize_two_pass(
    df: DataFrame,
    by: tuple,
    ts_col: str,
    gap: float,
    out: str,
    ts_expr,
    rows_per_chunk: int = 2_000_000,
    max_chunks: int = 4096,
) -> DataFrame:
    """Two-pass sessionization — same lag → boundary → running-sum
    semantics as :func:`~dask_groupby_spark.operators.selection.sessionize`,
    chunked so one huge key's event stream spans many tasks.

    Chunks bucket on the timestamp; because chunks are ts-contiguous, the
    predecessor of a chunk's first row is exactly the PREVIOUS chunk's last
    row, so the tiny state table carries (min_ts, max_ts, interior-boundary
    count) per chunk, an ordered lag over it resolves each chunk's
    first-row boundary, and the session prefix is a plain running sum —
    all SQL, no Arrow step.  NULL timestamps ride the sentinel chunk with
    the window path's exact (per-row new-session) semantics.
    """
    keys = list(by)
    ts = ts_expr
    big = _chunked(df, keys, ts, rows_per_chunk, max_chunks)

    base = _local(keys, F.col(ts_col).asc())
    wb = _upto(base)
    # materialize the lag/row_number BEFORE aggregating (window functions
    # cannot appear inside aggregate expressions)
    big = big.withColumn("__tp_lp", F.lag(ts).over(base)).withColumn(
        "__tp_rn", F.row_number().over(base)
    )
    local_prev = F.col("__tp_lp")
    in_chunk_boundary = F.when(
        local_prev.isNull() | ((ts - local_prev) > gap), 1
    ).otherwise(0)

    # tiny states: interior boundaries = every NON-FIRST row's boundary
    # (the predecessor is in-chunk there; a NULL-ts predecessor in the
    # sentinel chunk still starts a session, exactly like the window
    # path's per-row lag), plus the chunk's edge timestamps
    states = big.groupBy(*keys, _CHUNK).agg(
        F.sum(
            F.when(F.col("__tp_rn") > 1, in_chunk_boundary).otherwise(0)
        ).alias("__tp_ib"),
        F.min(ts).alias("__tp_min"),
        F.max(ts).alias("__tp_max"),
    )
    w_ord = Window.partitionBy(*keys).orderBy(F.col(_CHUNK))
    prev_last = F.lag("__tp_max").over(w_ord)
    first_b = F.when(
        prev_last.isNull() | ((F.col("__tp_min") - prev_last) > gap), 1
    ).otherwise(0)
    st2 = states.select(
        *keys, _CHUNK,
        prev_last.alias("__tp_prev_last"),
        (F.col("__tp_ib") + first_b).alias("__tp_total"),
    )
    offsets = st2.select(
        *keys, _CHUNK, "__tp_prev_last",
        F.coalesce(F.sum("__tp_total").over(_prior(keys)), F.lit(0).cast("long")).alias("__tp_pre"),
    )

    big = _ns_join(big, offsets, keys + [_CHUNK])
    eff_prev = F.coalesce(local_prev, F.col("__tp_prev_last"))
    boundary = F.when(eff_prev.isNull() | ((ts - eff_prev) > gap), 1).otherwise(0)
    session = (
        F.sum(boundary).over(wb)
        + F.coalesce(F.col("__tp_pre"), F.lit(0).cast("long"))
        - 1
    ).cast("bigint")
    return _select_with_out(big, df.columns, out, session)


def _ewma_affine_two_pass(
    df: DataFrame,
    by: tuple,
    value: str,
    idx_col: str,
    alpha: float,
    out: str,
    rows_per_chunk: int,
) -> DataFrame:
    """pandas ``adjust=False, ignore_na=False`` EWMA, two-pass.

    This mode is a RENORMALIZING recursion — for each valid observation,
    ``w = β^Δrows`` (Δ = row gap since the previous valid observation),
    ``y = (w·y_prev + α·x)/(w + α)``, and the weight resets — i.e. an
    AFFINE step ``y → A·y + B`` with ``A = w/(w+α)``, ``B = α·x/(w+α)``.
    Affine maps compose associatively, so the segmentation is: within a
    chunk the INTERIOR steps (valid rows with an in-chunk predecessor)
    compose via running products ``P_t = ΠA`` and offsets
    ``O_t = P_t·Σ B_i/P_i`` (``1/P`` bounded by the same exponent-safe
    chunk-span clamp as the geometric path — ``-log10 ΠA ≤ span·(-log10
    β)``); each chunk's FIRST valid step crosses the boundary and resolves
    in the Arrow recurrence over the tiny state table, which carries
    ``(y, last-valid global row ordinal)``.  Boundary decays ``β^Δ`` use
    POSITIVE powers only — a huge gap underflows to the mathematically
    correct limit ``y → x``.
    """
    import pandas as pd

    beta = 1.0 - alpha
    keys = list(by)
    v = F.col(value).cast("double")
    valid = v.isNotNull() & ~F.isnan(v)
    big, span_bound = _ewma_chunked(df, keys, idx_col, alpha, rows_per_chunk)

    base = _local(keys, F.col(idx_col))
    wb = _upto(base)
    wprev = base.rowsBetween(Window.unboundedPreceding, -1)
    big = big.withColumn("__tp_rl", F.row_number().over(base) - 1)
    big = big.withColumn(
        "__tp_pv", F.last(F.when(valid, F.col("__tp_rl")), ignorenulls=True).over(wprev)
    )
    interior = valid & F.col("__tp_pv").isNotNull()
    delta = F.col("__tp_rl") - F.col("__tp_pv")
    w_i = F.pow(F.lit(beta), delta)
    A = F.when(interior, w_i / (w_i + F.lit(alpha)))
    B = F.when(interior, F.lit(alpha) * v / (w_i + F.lit(alpha)))
    big = big.withColumn("__tp_A", A).withColumn("__tp_B", B)
    big = big.withColumn(
        "__tp_P", F.coalesce(F.product("__tp_A").over(wb), F.lit(1.0))
    )
    big = big.withColumn(
        "__tp_S",
        F.coalesce(
            F.sum(
                F.when(interior, F.col("__tp_B") / F.col("__tp_P")).otherwise(F.lit(0.0))
            ).over(wb),
            F.lit(0.0),
        ),
    )
    big = big.withColumn(
        "__tp_xf", F.first(F.when(valid, v), ignorenulls=True).over(wb)
    ).withColumn(
        "__tp_rf", F.first(F.when(valid, F.col("__tp_rl")), ignorenulls=True).over(wb)
    )

    states = big.groupBy(*keys, _CHUNK).agg(
        F.count(F.lit(1)).alias("__tp_L"),
        F.count(F.when(valid, 1)).alias("__tp_nv"),
        F.min(F.when(valid, F.struct(F.col("__tp_rl").alias("r"), v.alias("x")))).alias("__tp_first"),
        F.max(F.when(valid, F.struct(
            F.col("__tp_rl").alias("r"),
            F.col("__tp_P").alias("p"),
            F.col("__tp_S").alias("s"),
        ))).alias("__tp_lastc"),
    )

    out_schema = (
        f"{_key_schema(df, keys)}, `{_CHUNK}` long, `__tp_y0` double, "
        "`__tp_plo` double, `__tp_prer` long, `__tp_prev` long"
    )
    a_, b_, sb_ = float(alpha), float(beta), span_bound

    def recur(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(_CHUNK, kind="mergesort").reset_index(drop=True)
        y = None
        last_ord = None
        pre_rows = 0
        pre_valid = 0
        rows_out = []
        for _, r in pdf.iterrows():
            L = int(r["__tp_L"])
            if L > sb_:
                raise ValueError(
                    f"ewma two_pass: chunk span {L} exceeds the exponent-safe "
                    f"bound {sb_}; use the default applyInPandas path"
                )
            rec = {k: r[k] for k in pdf.columns if not k.startswith("__tp_")}
            rec[_CHUNK] = int(r[_CHUNK])
            rec["__tp_y0"] = y
            rec["__tp_plo"] = float(last_ord) if last_ord is not None else None
            rec["__tp_prer"] = pre_rows
            rec["__tp_prev"] = pre_valid
            rows_out.append(rec)
            nv = int(r["__tp_nv"])
            if nv > 0:
                fr = r["__tp_first"]
                lc = r["__tp_lastc"]
                first_global = int(fr["r"]) + pre_rows
                if pre_valid == 0:
                    y1 = float(fr["x"])
                else:
                    w = b_ ** (first_global - last_ord)
                    y1 = (w * y + a_ * float(fr["x"])) / (w + a_)
                y = float(lc["p"]) * y1 + float(lc["p"]) * float(lc["s"])
                last_ord = int(lc["r"]) + pre_rows
            pre_rows += L
            pre_valid += nv
        return pd.DataFrame(rows_out)

    offsets = _nan_safe_offsets(states, keys, dict(df.dtypes), recur, out_schema)
    big = _ns_join(big, offsets, keys + [_CHUNK])

    first_global = F.col("__tp_rf") + F.coalesce(F.col("__tp_prer"), F.lit(0).cast("long"))
    w_b = F.pow(F.lit(beta), first_global - F.col("__tp_plo"))
    y1 = F.when(
        F.coalesce(F.col("__tp_prev"), F.lit(0).cast("long")) == 0, F.col("__tp_xf")
    ).otherwise((w_b * F.col("__tp_y0") + F.lit(alpha) * F.col("__tp_xf")) / (w_b + F.lit(alpha)))
    y_valid = F.when(valid, F.col("__tp_P") * y1 + F.col("__tp_P") * F.col("__tp_S"))
    big = big.withColumn("__tp_y", y_valid)
    y = F.coalesce(
        F.last(F.col("__tp_y"), ignorenulls=True).over(wb), F.col("__tp_y0")
    )
    return _select_with_out(big, df.columns, out, y.cast("double"))
