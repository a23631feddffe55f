"""Row-selection operators for training-data pipelines: per-group top-k,
batch sessionization, deterministic per-group sampling.

No flox counterpart (the reference has no sorts/limits/top-k over data,
SURVEY.md §2.4) — these are Spark-native surface extensions, all expressed
as window functions so Catalyst owns partitioning and AQE handles skew.

Scale notes: each operator is one shuffle on the group keys.  A skewed key
(one domain with billions of rows) lands on a single task under a plain
window — ``grouped_topk`` and ``sample_per_group`` therefore take
``skew_salt``: top-k is decomposable, so a salted partial pass (top-k per
(key, salt)) bounds every task at |group|/salt rows, and the final pass
ranks only k·salt survivors per key.  Identical results, one extra (tiny)
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _hasher


def grouped_topk(
    df: DataFrame,
    *by: str,
    order_col: str,
    k: int,
    descending: bool = True,
    tiebreak: str | None = None,
    rank_col: str = "rank",
    skew_salt: int | None = None,
) -> DataFrame:
    """Keep the top ``k`` rows per group ordered by ``order_col`` (e.g. the
    k highest-quality documents per domain).  ``tiebreak`` (an id column)
    makes the cut deterministic when order values collide.

    ``skew_salt=S`` runs a salted partial top-k first (salt = hash of the
    tiebreak): each task sorts at most |group|/S rows, and the final window
    ranks ≤ k·S survivors per key.  Result is identical to the unsalted plan
    (top-k distributes over any partition of the rows); use it when one
    group dwarfs executor memory.  ``tiebreak`` is REQUIRED with
    ``skew_salt``: without a total order, which tied row survives the k
    boundary would depend on the (retry-variant) physical row placement.
    """
    if rank_col in df.columns:
        raise ValueError(
            f"rank_col={rank_col!r} collides with an existing column — "
            "rename it first (e.g. a prior grouped_topk pass)"
        )
    order = [F.col(order_col).desc() if descending else F.col(order_col).asc()]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    if skew_salt and skew_salt > 1:
        if not tiebreak:
            raise ValueError(
                "skew_salt requires tiebreak: salting without a total order "
                "makes the surviving row set nondeterministic across retries"
            )
        salt = F.pmod(F.xxhash64(F.col(tiebreak), F.lit("topk-salt")), F.lit(skew_salt))
        wp = Window.partitionBy(*by, "__salt").orderBy(*order)
        df = (
            df.withColumn("__salt", salt)
            .withColumn("__prank", F.row_number().over(wp))
            .where(F.col("__prank") <= k)
            .drop("__salt", "__prank")
        )
    w = Window.partitionBy(*by).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= k)
    )


def sessionize(
    df: DataFrame,
    *by: str,
    ts_col: str,
    gap: float,
    out: str = "session_id",
    method: str = "auto",
    rows_per_chunk: int = 2_000_000,
) -> DataFrame:
    """Assign a per-key session index: a new session starts when the gap to
    the previous event of the same key exceeds ``gap`` seconds — the batch
    analog of ``streaming.session_reduce`` (F.session_window), as two window
    expressions (lag → boundary flag → running sum).

    ``method="two_pass"``: the chunked scalable execution — chunks are
    ts-contiguous, so each chunk's first-row boundary resolves against the
    previous chunk's last timestamp on the tiny state table, and the
    session prefix is a running sum of per-chunk boundary counts; one huge
    key's stream spans many tasks instead of one
    (:func:`dask_groupby_spark.two_pass.sessionize_two_pass`).
    ``method="auto"`` (DEFAULT): picks two_pass when some key exceeds
    ``rows_per_chunk`` events; the first call probes per-key row counts
    once, the memo serves repeated calls, and nothing is persisted.

    Output: input columns + ``out`` (0-based session index per key).
    """
    from ..dtypes import time_to_seconds

    if out in df.columns:
        raise ValueError(
            f"out={out!r} collides with an existing column — rename it first"
        )
    ts = time_to_seconds(df, ts_col)
    from ..two_pass import choose_tier

    if choose_tier(method, df, list(by), ts, rows_per_chunk) == "two_pass":
        from ..two_pass import sessionize_two_pass

        return sessionize_two_pass(df, by, ts_col, gap, out, ts, rows_per_chunk=rows_per_chunk)
    w = Window.partitionBy(*by).orderBy(F.col(ts_col).asc())
    prev = F.lag(ts).over(w)
    boundary = F.when(prev.isNull() | ((ts - prev) > gap), 1).otherwise(0)
    running = Window.partitionBy(*by).orderBy(F.col(ts_col).asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn(out, (F.sum(boundary).over(running) - 1).cast("bigint"))


def sample_per_group(
    df: DataFrame,
    *by: str,
    n: int,
    id_col: str,
    seed: str = "sample",
    hasher: str = "fast",
    skew_salt: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Deterministic pseudo-random sample of ``n`` rows per group: rows are
    ranked by a seeded hash of their id (uniform, reproducible across runs
    and engines with ``hasher="portable"``) and the first ``n`` kept — the
    standard downsampling step when balancing a training mix.

    ``weight_col``: weighted sampling WITHOUT replacement via
    Efraimidis–Spirakis exponential keys — rank by ``-ln(u)/w`` ascending,
    where ``u`` is the seeded-hash uniform.  Inclusion probability is
    proportional to weight (quality-score-weighted downsampling); rows with
    missing/non-positive weight are excluded.  Still fully deterministic —
    the randomness is the hash, not an RNG.

    ``skew_salt=S``: same two-stage trick as :func:`grouped_topk` (sampling
    IS top-n by key order, which distributes over row partitions), so a
    group with billions of rows never hits a single task.  The salt is
    derived from the same hash used for ranking, so results are identical
    and still deterministic.
    """
    hbits = _hasher(hasher)(F.col(id_col).cast("string"), seed)
    if weight_col is not None:
        m = float(1 << 53)
        u = ((hbits % F.lit(1 << 53)).cast("double") + 1.0) / F.lit(m + 1.0)
        wv = F.col(weight_col).cast("double")
        key = -F.log(u) / wv
        h = F.when(wv.isNotNull() & ~F.isnan(wv) & (wv > 0), key)
        # NULL keys (bad weights) must lose: sort them last
        df = df.where(h.isNotNull())
    else:
        h = hbits
    if skew_salt and skew_salt > 1:
        wp = Window.partitionBy(*by, "__salt").orderBy(h.asc(), F.col(id_col).asc())
        df = (
            df.withColumn("__salt", F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(skew_salt)))
            .withColumn("__prn", F.row_number().over(wp))
            .where(F.col("__prn") <= n)
            .drop("__salt", "__prn")
        )
    w = Window.partitionBy(*by).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n)
        .drop("__rn")
    )


def key_skew_stats(
    df: DataFrame,
    *by: str,
    top: int = 20,
) -> DataFrame:
    """Hot-key diagnostic: the top-``top`` keys by row count with each
    key's fraction of the total and the running cumulative fraction —
    the pre-pass that feeds ``salted_join(hot_keys=…)`` and decides
    whether AQE's skew splitting suffices or explicit salting is needed
    (a key above ~1/partitions of the table is a candidate).

    One map-combined count shuffle + a distributed top-k cut
    (TakeOrdered); the total is a 1-row aggregate broadcast into the
    ≤``top``-row result, and the cumulative window runs on those rows
    only.  Deterministic order: count DESC, then keys ASC.
    """
    from pyspark.sql import Window

    if not by:
        raise ValueError("key_skew_stats needs at least one key column")
    counts = df.groupBy(*by).agg(F.count(F.lit(1)).alias("n"))
    order = [F.col("n").desc()] + [F.col(k).asc() for k in by]
    cut = counts.orderBy(*order).limit(top)
    total = counts.agg(F.sum("n").alias("__t"))
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    return (
        cut.crossJoin(F.broadcast(total))
        .select(
            *by,
            "n",
            (F.col("n") / F.col("__t")).alias("frac"),
            (F.sum("n").over(w) / F.col("__t")).alias("cum_frac"),
        )
    )
