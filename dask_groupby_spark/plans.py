"""Physical-layout helpers: the Spark analogs of the reference's rechunking
pre-optimizers, plus plan-inspection utilities used by tests/benchmarks.

- :func:`rechunk_for_blockwise` ≈ flox.rechunk_for_blockwise
  (flox/core.py:634-664): lay data out so each group lives in one partition,
  letting a subsequent groupBy aggregate without a (second) shuffle.  In
  Spark terms: ``repartition(cols)`` — the shuffle is *moved*, not removed,
  but it is paid once and reused by every downstream grouped op on the same
  keys (Exchange reuse / AQE elision).
- :func:`rechunk_for_cohorts` ≈ flox.rechunk_for_cohorts
  (flox/__init__.py:8-13, flox/core.py:540-631): in the reference this
  rewrites dask chunk boundaries so groups that recur with a shared period
  (cohorts) land in the same blocks.  Spark has no user-visible chunk
  topology — the hash shuffle already routes every group's rows to one
  partition, which is the end state cohort rechunking approximates — so the
  Spark counterpart IS the blockwise layout, and this export is a documented
  alias of :func:`rechunk_for_blockwise` to keep the public API surface
  1:1 (SURVEY.md §4).
- :func:`_metadata_row_bound`: an upper bound on a frame's rows from
  metadata alone (cached-relation stats, parquet footers), no Spark job —
  shared by the reduction path's output-sort rule (core.py) and the
  auto-tier dispatch ladders (two_pass.py, binning.py, operators/dedup.py).
"""

from __future__ import annotations

import re
from typing import Optional

from pyspark.sql import DataFrame


def rechunk_for_blockwise(df: DataFrame, *by: str, partitions: int | None = None) -> DataFrame:
    """Pre-partition by group keys so later grouped ops on the same keys
    avoid an extra Exchange (ref: flox/core.py:634-664)."""
    if partitions:
        return df.repartition(partitions, *by)
    return df.repartition(*by)


def rechunk_for_cohorts(
    df: DataFrame,
    *by: str,
    partitions: int | None = None,
    **_ignored,
) -> DataFrame:
    """Public-API parity alias for the reference's ``rechunk_for_cohorts``
    (flox/__init__.py:8-13, impl flox/core.py:540-631).

    The reference's version exists because dask reduces block-by-block along
    a fixed chunk grid: when groups recur periodically (e.g. day-of-year
    across a 40-year daily series), re-cutting chunks so each cohort of
    co-occurring groups shares blocks turns a global tree reduction into
    many small independent ones.  Spark's shuffle already routes by key
    hash — every group's rows meet in exactly one post-shuffle partition
    regardless of input layout, with AQE coalescing/splitting partitions at
    runtime — so the cohort heuristic has nothing to optimize here; the
    useful half (pay the layout cost once, reuse it) is exactly
    :func:`rechunk_for_blockwise` / :func:`bucket_table`.  Extra reference
    keywords (``found_groups``, ``force_new_dim``, …) are accepted and
    ignored for drop-in compatibility.
    """
    return rechunk_for_blockwise(df, *by, partitions=partitions)


def bucket_table(
    df: DataFrame,
    name: str,
    *by: str,
    n_buckets: int = 32,
    path: str | None = None,
    sort_by: tuple[str, ...] = (),
) -> DataFrame:
    """Persist ``df`` as a bucketed table on the group keys and return the
    bucketed scan — the *durable* blockwise layout (ref:
    flox.rechunk_for_blockwise, flox/core.py:634-664, but written to storage
    so EVERY future job skips the shuffle, not just this lineage).

    A groupBy on the bucket keys over the returned DataFrame aggregates with
    ZERO Exchange nodes (asserted in tests/test_plans.py): the scan's
    hash-bucket layout already satisfies the aggregation's distribution
    requirement.  At 100 TB this converts the dominant cost of repeated
    grouped queries (the full-data shuffle) into a one-time write.
    ``sort_by`` additionally orders rows within each bucket, which turns
    order-sensitive ops (first/last/scans) into sequential in-bucket reads.
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, *by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(name)
    return df.sparkSession.table(name)


# Logical-plan nodes that can INCREASE row count.  Anything else
# (Project/Filter/Aggregate/Window/Sort/Deduplicate/Limit, and Sample
# WITHOUT replacement — see :func:`_plan_can_grow_rows`) keeps or reduces
# it, so the sum of the LEAVES' row counts under those nodes is a safe
# UPPER bound on the frame's rows.  Substring match on the analyzed plan
# is conservative: a false positive (e.g. a user column literally named
# "UnionX") merely falls back to the probe job — never wrong tiers.
_ROW_GROWING_NODES = (
    "Join",
    "Generate",  # explode / posexplode / inline / stack
    "Union",
    "Expand",  # cube / rollup / grouping sets
    "Unpivot",  # melt: rows x value-columns
    "FlatMapGroupsInPandas",  # applyInPandas
    "FlatMapCoGroupsInPandas",
    "MapInPandas",
    "FlatMapGroupsWithState",
    "CoGroup",
)

# Sample prints as "Sample <low>, <high>, <withReplacement>, <seed>" in the
# analyzed plan; with replacement the output can EXCEED the child's rows
# (fraction > 1 draws each row multiple times — ADVICE r11 #2).  Any Sample
# line whose flag we cannot positively read as "false" is treated as
# row-growing; false positives just fall back to the probe.
_SAMPLE_NO_REPLACEMENT = re.compile(r"Sample [^\n]*?, false,")


def _plan_can_grow_rows(plan: str) -> bool:
    """True when the analyzed-plan string contains any node that can emit
    more rows than its children received (then no leaf-sum bound is
    safe)."""
    if any(tok in plan for tok in _ROW_GROWING_NODES):
        return True
    for line in plan.splitlines():
        if "Sample " in line and not _SAMPLE_NO_REPLACEMENT.search(line):
            return True
    return False


def _parquet_footer_sum(files, max_files: int, limit: Optional[int] = None):
    """Sum of row counts from LOCAL parquet footers, or None (non-local /
    non-parquet / too many files — on a real cluster driver-side footer
    reads would be remote round-trips; the probe job is the right tool
    there).  With ``limit``, stops reading footers as soon as the running
    sum exceeds it and returns that partial sum (> ``limit``)."""
    if not files or len(files) > max_files:
        return None
    from urllib.parse import unquote, urlparse

    import pyarrow.parquet as pq

    total = 0
    for uri in files:
        if limit is not None and total > limit:
            return total
        u = urlparse(uri)
        if u.scheme not in ("file", ""):
            return None
        path = unquote(u.path)
        if not path.endswith(".parquet"):
            return None
        try:
            total += pq.read_metadata(path).num_rows
        except Exception:
            return None
    return total


def _leaf_row_bound(leaf, max_files: int, limit: Optional[int] = None):
    """Upper bound for ONE optimized-plan leaf, or None.  Catalyst stats
    first (exact for a materialized InMemoryRelation, LocalRelation,
    Range); else the leaf's own parquet footers (a LogicalRelation over
    HadoopFsRelation exposes its file listing driver-side)."""
    try:
        rc = leaf.stats().rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
    except Exception:
        pass
    try:
        files = list(leaf.relation().location().inputFiles())
    except Exception:
        return None
    return _parquet_footer_sum(files, max_files, limit)


def _metadata_row_bound(df: DataFrame, max_files: int = 4096, limit: Optional[int] = None):
    """Upper bound on ``df``'s row count from driver-side metadata alone —
    parquet footers and Catalyst leaf stats, no Spark job (VERDICT r10 #1:
    "a parquet-scan count is metadata-cheap").  Returns ``None`` when no
    safe bound exists: any plan node that can multiply rows (including
    Sample WITH replacement), or any leaf whose row count is unknowable
    driver-side.

    EVERY leaf of the optimized plan must yield a bound and all leaves are
    summed (ADVICE r11 #1: summing only the file leaves under-counted
    plans mixing a cached relation with a parquet scan, e.g.
    ``cachedDF.exceptAll(smallParquetDF)`` — row-reducing overall, but the
    dominant side had no files).  With no row-growing node, every
    remaining operator emits at most the rows it receives, so the leaf sum
    bounds the root — an over-estimate stays a valid bound.

    ``limit`` is for callers that only compare the bound with a cap: the
    walk stops as soon as the running sum exceeds ``limit`` (O(1) footer
    reads on a large many-file table) and returns that partial sum — a
    result > ``limit`` then only says "over the cap", not the bound."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        if _plan_can_grow_rows(plan):
            return None
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        n = leaves.size()
        if n == 0:
            return None
        total = 0
        for i in range(n):
            left = None if limit is None else limit - total
            b = _leaf_row_bound(leaves.apply(i), max_files, left)
            if b is None:
                return None
            total += b
            if limit is not None and total > limit:
                return total
        return total
    except Exception:
        return None


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan string (for plan-shape assertions in tests);
    ``mode`` ∈ formatted|simple|extended|codegen|cost."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def count_exchanges(df: DataFrame) -> int:
    """# of shuffle (Exchange) nodes in the formatted physical plan."""
    return len(re.findall(r"^\(\d+\) Exchange", physical_plan(df), re.M))


def assert_single_shuffle(df: DataFrame) -> None:
    """Assert the plan contains at most one Exchange below the final agg —
    the shape we expect from partial→final hash aggregation."""
    n = count_exchanges(df)
    if n > 1:
        raise AssertionError(
            f"unexpected shuffle count {n} in plan:\n{physical_plan(df)}"
        )


def zorder_key(
    df: DataFrame,
    cols: "list[str]",
    bits: int = 16,
) -> Column:
    """Z-order (Morton) clustering key over numeric ``cols``: each
    column min/max-normalizes to a ``bits``-bit integer, and the bit
    planes interleave into one BIGINT whose sort order traces the
    space-filling Z-curve.  Sorting a table by this key clusters rows
    that are close in EVERY listed dimension, so parquet row-group
    min/max statistics become selective for range filters on ANY of the
    columns — the multi-column completion of ``save_table(sort_by=...)``
    (optimal for one column, useless for the second).

    Cost: ONE bounded stats job (min/max per column — 2·|cols| scalars
    to the driver, same documented KB-collect class as the IVF
    quantizer) to inline the scaling constants; the key itself is a pure
    projection (constant-shift ``shiftright``/``shiftleft``/OR chain,
    whole-stage codegen, no UDF).  NULLs scale to cell 0; a constant
    column contributes 0 to every key (try_divide).  Requires
    ``len(cols) * bits <= 63``.
    """
    from pyspark.sql import functions as F

    if not cols or len(cols) < 2:
        raise ValueError("zorder needs >= 2 columns (one column: sort_by)")
    if len(cols) * bits > 63:
        raise ValueError(f"{len(cols)} cols x {bits} bits exceeds 63 key bits")
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    m = (1 << bits) - 1
    planes = []
    for i, c in enumerate(cols):
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        if mn is None:  # all-NULL column
            planes.append(F.lit(0).cast("bigint"))
            continue
        scaled = F.floor(
            F.try_divide(F.col(c).cast("double") - F.lit(mn), F.lit(mx - mn)) * F.lit(float(m))
        )
        planes.append(F.coalesce(scaled, F.lit(0)).cast("bigint"))
    key = F.lit(0).cast("bigint")
    n = len(cols)
    for j in range(bits):
        for i, p in enumerate(planes):
            # bit j of column i lands at position j*n + i
            key = key.bitwiseOR(
                F.shiftleft(F.shiftright(p, j).bitwiseAND(F.lit(1)), j * n + i)
            )
    return key


def cluster_by_zorder(
    df: DataFrame,
    cols: "list[str]",
    bits: int = 16,
    partitions: int | None = None,
) -> DataFrame:
    """Physically cluster ``df`` along the Z-curve of ``cols`` for
    writing: range-partition on the Z-key (so each output file owns a
    contiguous curve segment — balanced via range sampling, skew-safe)
    and sort within partitions, then drop the key.  Feed the result
    straight to ``save_table`` (no extra ``sort_by``):

        save_table(cluster_by_zorder(df, ["x", "y"]), path)

    One Exchange (rangepartitioning) + in-partition sort — the same
    cost as a single-column sorted write, but every listed column gets
    data skipping.
    """
    k = zorder_key(df, cols, bits)
    out = df.withColumn("__zkey", k)
    out = (
        out.repartitionByRange(partitions, "__zkey")
        if partitions
        else out.repartitionByRange("__zkey")
    )
    return out.sortWithinPartitions("__zkey").drop("__zkey")
