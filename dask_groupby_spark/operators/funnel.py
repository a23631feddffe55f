"""Ordered funnel analysis over an event stream.

The classic product-analytics primitive the reference has no analog for but
every event pipeline needs: given an ordered list of steps (event types),
count how many entities (users) completed step 1, then step 2 strictly
after their step-1 time, then step 3 strictly after their step-2 time, …

Spark-first design (100 TB shape): a chain of per-step filtered aggregates
joined on the entity key — NOT a window over all events.

* step 1: ``filter(type == s1).groupBy(entity).agg(min(ts))`` — the type
  filter is pushed to the scan, so each stage shuffles only that step's
  events (a funnel step is typically a small fraction of the firehose).
* step k: ``filter(type == sk) ⋈ reached_{k-1} on entity``, keep events
  with ``ts > t_{k-1}``, then ``groupBy(entity).agg(min(ts))``.  Every
  join and aggregate keys on the same entity column, so AQE plans
  sort-merge joins over co-partitioned exchanges; the per-step frames
  shrink monotonically (funnel property), and later stages are
  broadcast-joinable once the survivor set is small.
* no per-entity window: a window over ``partitionBy(entity)`` would carry
  EVERY event of every entity through one sort; the join chain carries
  only matching step events.

Entity-level state is one timestamp per reached step — bounded, mergeable,
and the whole funnel is K-1 self-joins on a reused key, never a cartesian.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..dtypes import time_to_seconds

__all__ = ["funnel", "funnel_conversion", "funnel_timing", "retention"]

_PERIOD_SECONDS = {"day": 86_400, "week": 604_800, "month": 2_592_000}


def funnel(
    df: DataFrame,
    steps: list[str],
    *,
    entity_col: str,
    type_col: str,
    ts_col: str,
    segment_col: str | None = None,
    within: float | None = None,
) -> DataFrame:
    """Per-entity funnel reach: one row per entity that completed step 1,
    with the completion time of every step it reached (NULL once it drops
    out).  ``steps`` is the ordered list of ``type_col`` values; step k
    counts only events STRICTLY after the entity's step-(k-1) time (the
    standard strict-order funnel).

    ``within``: conversion window in seconds measured from FUNNEL ENTRY
    (the entity's step-1 time, Mixpanel-style) — step k ≥ 2 additionally
    requires ``ts <= t1 + within``; an entity that converts later does
    NOT count.

    ``segment_col``: carried from the entity's step-1 event (the event that
    entered it into the funnel), via ``min_by`` on the step-1 time.

    Output: ``entity_col`` [, ``segment``], ``t1..tK`` (epoch-seconds
    DOUBLE, NULL = step not reached).
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    if within is not None and within <= 0:
        raise ValueError(f"within must be positive seconds, got {within}")
    reserved = {f"t{k}" for k in range(1, len(steps) + 1)} | (
        {"segment"} if segment_col else set()
    )
    if entity_col in reserved:
        raise ValueError(
            f"funnel: entity_col {entity_col!r} collides with the output "
            f"columns {sorted(reserved)} — rename it first"
        )
    ts = time_to_seconds(df, ts_col)
    ev = df.select(
        F.col(entity_col),
        F.col(type_col).alias("__ft"),
        ts.alias("__ts"),
        *([F.col(segment_col).alias("__seg")] if segment_col else []),
    ).filter(
        F.col("__ft").isin(list(steps))
        & F.col("__ts").isNotNull()
        # a NULL entity is not an entity: it would count at step 1 (GROUP
        # BY keeps the NULL group) yet never advance (equi-joins drop it)
        & F.col(entity_col).isNotNull()
    )

    first = ev.filter(F.col("__ft") == steps[0]).groupBy(entity_col)
    aggs = [F.min("__ts").alias("t1")]
    if segment_col:
        aggs.append(F.min_by("__seg", F.col("__ts")).alias("segment"))
    reached = first.agg(*aggs)

    for k, step in enumerate(steps[1:], start=2):
        # `reached` feeds TWO consumers per step (the step-k candidate join
        # and the left join back) and AQE never reuses an Exchange across
        # consumers — without a lineage cut the step-(k-1) subplan would
        # re-execute 2x per step, i.e. 2^(K-1) executions of the step-1
        # scan for a K-step funnel (r9 review).  The LAZY local checkpoint
        # materializes each step's per-entity table exactly once, on first
        # use, and keeps construction action-free.
        reached = reached.localCheckpoint(eager=False)
        carry = [entity_col, f"t{k - 1}"] + (["t1"] if within is not None and k > 2 else [])
        qual = F.col("__ts") > F.col(f"t{k - 1}")
        if within is not None:
            qual = qual & (F.col("__ts") <= F.col("t1") + F.lit(float(within)))
        nxt = (
            ev.filter(F.col("__ft") == step)
            .join(reached.select(*dict.fromkeys(carry)), on=entity_col, how="inner")
            .filter(qual)
            .groupBy(entity_col)
            .agg(F.min("__ts").alias(f"t{k}"))
        )
        reached = reached.join(nxt, on=entity_col, how="left")

    cols = [entity_col] + (["segment"] if segment_col else []) + [
        f"t{k}" for k in range(1, len(steps) + 1)
    ]
    return reached.select(*cols)


def funnel_conversion(
    df: DataFrame,
    steps: list[str],
    *,
    entity_col: str,
    type_col: str,
    ts_col: str,
    segment_col: str | None = None,
    within: float | None = None,
) -> DataFrame:
    """Aggregated funnel: one row per step [per segment] with the number of
    entities that reached it and the conversion rate relative to step 1.

    Output: [``segment``,] ``step_idx`` (1-based), ``step``, ``n_entities``,
    ``conversion`` (DOUBLE in [0, 1], = n_k / n_1 within the segment).
    """
    per_entity = funnel(
        df,
        steps,
        entity_col=entity_col,
        type_col=type_col,
        ts_col=ts_col,
        segment_col=segment_col,
        within=within,
    )
    seg = ["segment"] if segment_col else []
    counts = per_entity.groupBy(*seg).agg(
        *[
            F.count(f"t{k}").alias(f"n{k}")
            for k in range(1, len(steps) + 1)
        ]
    )
    # one explode, not a K-way self-union: AQE never reuses an Exchange
    # across consumers, so a union would re-run the whole join chain per
    # step (repo-wide rule, see docs/cookbook)
    step_structs = F.array(
        *[
            F.struct(
                F.lit(k).cast("int").alias("step_idx"),
                F.lit(step).alias("step"),
                F.col(f"n{k}").cast("bigint").alias("n_entities"),
            )
            for k, step in enumerate(steps, start=1)
        ]
    )
    return (
        counts.select(*seg, F.col("n1"), F.explode(step_structs).alias("s"))
        .select(
            *seg,
            "s.step_idx",
            "s.step",
            "s.n_entities",
            F.when(F.col("n1") > 0, F.col("s.n_entities") / F.col("n1"))
            .otherwise(F.lit(None))
            .cast("double")
            .alias("conversion"),
        )
    )


def retention(
    df: DataFrame,
    *,
    entity_col: str,
    ts_col: str,
    period: str | int = "week",
    horizon: int = 12,
) -> DataFrame:
    """Cohort retention analysis — the standard activation companion to
    :func:`funnel`: entities are cohorted by the period of their FIRST
    event, and each later period measures what fraction of the cohort was
    active again.

    ``period``: "day" / "week" / "month" (fixed 30-day months), or an
    explicit period length in seconds.  Periods are epoch-aligned integer
    buckets (``floor(epoch_seconds / period)``) — deterministic,
    calendar-free arithmetic that both engines compute bit-identically.
    ``horizon``: keep offsets 0..horizon.

    Plan shape (all stages key on the entity or on tiny aggregates —
    nothing rides a low-cardinality partition): distinct
    ``(entity, period)`` activity, map-side combined; per-entity cohort =
    ``min(period)`` as a window over the entity (at most one row per
    period, so the activity is read once and nothing is persisted); one
    ``groupBy(cohort, offset)`` count — the result is
    ``|cohorts|·horizon`` rows, and the cohort-size denominator comes
    from a window over THAT tiny table (offset 0 is the cohort size by
    construction: every entity is active in its first period).

    Output: ``cohort`` (period index, BIGINT), ``offset`` (periods since
    cohort, INT), ``n_active`` (BIGINT), ``retention`` (DOUBLE in (0, 1],
    = n_active / cohort size).
    """
    if isinstance(period, str):
        if period not in _PERIOD_SECONDS:
            raise ValueError(
                f"period must be one of {sorted(_PERIOD_SECONDS)} or seconds, "
                f"got {period!r}"
            )
        period_s = _PERIOD_SECONDS[period]
    else:
        period_s = int(period)
        if period_s <= 0:
            raise ValueError(f"period seconds must be positive, got {period}")
    if horizon < 0:
        raise ValueError(f"horizon must be >= 0, got {horizon}")

    ts = time_to_seconds(df, ts_col)
    p = F.floor(ts / F.lit(float(period_s))).cast("bigint")
    activity = (
        df.filter(F.col(entity_col).isNotNull() & ts.isNotNull())
        .select(F.col(entity_col).alias("__e"), p.alias("__p"))
        .distinct()
    )
    counts = (
        activity.select("__p", F.min("__p").over(Window.partitionBy("__e")).alias("__c"))
        .select("__c", (F.col("__p") - F.col("__c")).cast("int").alias("__o"))
        .filter(F.col("__o") <= horizon)
        .groupBy("__c", "__o")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    size = F.max(F.when(F.col("__o") == 0, F.col("n_active"))).over(
        Window.partitionBy("__c")
    )
    return counts.select(
        F.col("__c").alias("cohort"),
        F.col("__o").alias("offset"),
        "n_active",
        (F.col("n_active") / size).cast("double").alias("retention"),
    )


def funnel_timing(
    df: DataFrame,
    steps: list[str],
    *,
    entity_col: str,
    type_col: str,
    ts_col: str,
    within: float | None = None,
) -> DataFrame:
    """Time-to-convert statistics per funnel transition: for each step
    k ≥ 2, over the entities that reached it, the count, mean, and exact
    median of ``t_k − t_{k−1}`` seconds.  One aggregate over the
    per-entity :func:`funnel` frame (conversion gaps are NULL for
    dropped-out entities, so each transition aggregates its own survivor
    set); the explode-not-union rule as in :func:`funnel_conversion`.

    Output: ``step_idx`` (2-based), ``step``, ``n`` (BIGINT),
    ``mean_gap_s``, ``median_gap_s`` (DOUBLE seconds).
    """
    if len(steps) < 2:
        raise ValueError("funnel_timing needs at least two steps")
    per_entity = funnel(
        df,
        steps,
        entity_col=entity_col,
        type_col=type_col,
        ts_col=ts_col,
        within=within,
    )
    gaps = per_entity.select(
        *[
            (F.col(f"t{k}") - F.col(f"t{k - 1}")).alias(f"g{k}")
            for k in range(2, len(steps) + 1)
        ]
    )
    agg = gaps.agg(
        *[
            a
            for k in range(2, len(steps) + 1)
            for a in (
                F.count(f"g{k}").alias(f"n{k}"),
                F.avg(f"g{k}").alias(f"m{k}"),
                F.median(f"g{k}").alias(f"md{k}"),
            )
        ]
    )
    step_structs = F.array(
        *[
            F.struct(
                F.lit(k).cast("int").alias("step_idx"),
                F.lit(step).alias("step"),
                F.col(f"n{k}").cast("bigint").alias("n"),
                F.col(f"m{k}").cast("double").alias("mean_gap_s"),
                F.col(f"md{k}").cast("double").alias("median_gap_s"),
            )
            for k, step in enumerate(steps[1:], start=2)
        ]
    )
    return agg.select(F.explode(step_structs).alias("s")).select(
        "s.step_idx", "s.step", "s.n", "s.mean_gap_s", "s.median_gap_s"
    )
