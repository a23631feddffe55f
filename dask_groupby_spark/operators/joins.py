"""Temporal joins Spark lacks as built-ins: as-of join (and its tolerance
variant).  No flox counterpart (the reference has no joins at all,
SURVEY.md §2.4) — this is Spark-native surface extension for event/feature
alignment in training pipelines (label joins, point-in-time correctness).

**Why not a range join**: the naive formulation
``l JOIN r ON l.key = r.key AND r.ts <= l.ts`` + pick-latest explodes to
O(|l|·|r|) pairs per key before pruning.  The scalable plan is the classic
union + ordered window carry:

    tag sides → union → one shuffle on key → sort by (ts, side) →
    ``last(right_value, ignorenulls)`` carries the most recent right row
    forward → keep left rows.

One Exchange total, no pair blow-up, works at any key cardinality — the
same shape Spark itself uses for stream-stream interval joins.
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..dtypes import normalize_time, time_expr_to_seconds, time_to_seconds


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    start: str,
    end: str,
    by: Sequence[str] = (),
    bucket_width: float = 3600.0,
    suffix: str = "_right",
) -> DataFrame:
    """Inner join of left rows to right intervals:
    ``r.start ≤ l.on ≤ r.end`` (+ equal ``by`` keys).

    **Why not a plain inequality join**: Spark executes
    ``JOIN ON a.key=b.key AND b.s <= a.t AND a.t <= b.e`` as a key-equi join
    followed by a per-key cartesian filter — O(|l|·|r|) per key.  Here both
    sides are mapped onto fixed-width time buckets (an interval spanning k
    buckets explodes into k rows); the join is a plain hash equi-join on
    (by, bucket) and the exact containment predicate prunes after.  A left
    point lives in exactly ONE bucket, so each qualifying pair is produced
    exactly once — no dedup pass.  Choose ``bucket_width`` ≈ the typical
    interval length: wider → fewer exploded rows, narrower → fewer false
    candidates.

    Output: left columns + each right column suffixed (by-keys unsuffixed).
    """
    by = list(by)
    # TIMESTAMP_NTZ can't feed the bucket arithmetic or compare against
    # TIMESTAMP — canonicalize once up front (instant-preserving, UTC session)
    left = normalize_time(left, on)
    right = normalize_time(right, start, end)
    w = float(bucket_width)
    lb = F.floor(time_to_seconds(left, on) / w).cast("bigint")
    l2 = left.withColumn("__b", lb)
    rcols = [c for c in right.columns if c not in by]
    for c in rcols:
        if f"{c}{suffix}" in left.columns:
            raise ValueError(
                f"suffixed column {c}{suffix!r} still collides"
            )
    r2 = right.select(
        *by,
        *[F.col(c).alias(f"{c}{suffix}") for c in rcols],
        F.explode(
            F.sequence(
                F.floor(time_to_seconds(right, start) / w).cast("bigint"),
                F.floor(time_to_seconds(right, end) / w).cast("bigint"),
            )
        ).alias("__b"),
    )
    joined = l2.join(r2, on=by + ["__b"]).where(
        (F.col(f"{start}{suffix}") <= F.col(on))
        & (F.col(on) <= F.col(f"{end}{suffix}"))
    )
    return joined.drop("__b")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: Sequence[str] = (),
    right_cols: Sequence[str] | None = None,
    tolerance: float | None = None,
    suffix: str = "_right",
    direction: str = "backward",
) -> DataFrame:
    """For every left row, attach the right row with the largest ``on`` ≤
    left's ``on`` (direction="backward"; "forward" = smallest ≥; "nearest" =
    smaller |Δ|, ties → backward, pandas merge_asof parity) within the
    same ``by`` key.  ``tolerance`` (seconds) nulls the match when the time
    difference exceeds it.  Right rows should be unique per (by, on) —
    pre-aggregate otherwise (with duplicates, which one wins is unspecified,
    matching DuckDB ASOF JOIN).

    Output: all left columns + ``<right_col><suffix>`` for each right value
    column + ``<on><suffix>`` (the matched right timestamp, NULL if none).

    The matched right row is attached ATOMICALLY: all its value columns ride
    in ONE struct carried by a single ``last(ignorenulls)``, so a NULL in one
    right value column can never mix columns from different right rows
    (matches DuckDB ASOF JOIN, which attaches whole rows).  Right rows whose
    ``on`` is NULL are unmatchable, as in an ordered-comparison join.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError("direction must be 'backward', 'forward' or 'nearest'")
    by = list(by)
    left = normalize_time(left, on)
    right = normalize_time(right, on)
    on_dt = left.schema[on].dataType
    r_on_dt = right.schema[on].dataType
    rcols = list(right_cols) if right_cols is not None else [
        c for c in right.columns if c not in by + [on]
    ]
    ltypes = dict(left.dtypes)
    lcols = list(left.columns)
    # same guard as range_join/salted_join/interval_overlap_join: a suffixed
    # output name colliding with a left column (or rcols containing `on`,
    # which would duplicate f"{on}{suffix}") silently emits duplicate columns
    out_names = [f"{c}{suffix}" for c in rcols] + [f"{on}{suffix}"]
    for n in out_names:
        if n in lcols or out_names.count(n) > 1:
            raise ValueError(f"suffixed column {n!r} still collides")

    # the whole candidate right row as one nullable struct (__rts = its ts);
    # NULL on left rows and on right rows with NULL ts (never matchable).
    r_struct = F.when(
        F.col(on).isNotNull(),
        F.struct(
            F.col(on).alias("__rts"), *[F.col(c).alias(c) for c in rcols]
        ),
    )
    r_struct_type = right.select(r_struct.alias("__r")).schema["__r"].dataType

    # union schema: by + on + __side + left-only cols + __r (right-row struct)
    lonly = [c for c in lcols if c not in by + [on]]
    l_proj = (
        [F.col(c) for c in by]
        + [F.col(on), F.lit(1).alias("__side")]
        + [F.col(c) for c in lonly]
        + [F.lit(None).cast(r_struct_type).alias("__r")]
    )
    r_proj = (
        [F.col(c) for c in by]
        + [F.col(on), F.lit(0).alias("__side")]
        + [F.lit(None).cast(ltypes[c]).alias(c) for c in lonly]
        + [r_struct.alias("__r")]
    )
    unioned = left.select(*l_proj).unionByName(right.select(*r_proj))

    # backward: right rows sort BEFORE left rows at equal ts (side 0 < 1) so
    # a same-timestamp right row is visible; carry = last non-null preceding.
    # forward: mirror with first non-null following, right rows AFTER left.
    # nearest: BOTH carries over the same partitioning (one Exchange, two
    # sorted WindowExec passes), then pick the smaller |Δts| (tie → backward,
    # pandas merge_asof semantics).
    w_b = (
        Window.partitionBy(*by)
        .orderBy(F.col(on).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward carry = last non-null over the EXACT order reversal (on DESC,
    # side ASC) with the accumulating unboundedPreceding frame — first()
    # over a currentRow..unboundedFollowing frame re-scans the partition
    # suffix per row in Spark, O(n²) per key group (r8 finding; same fix as
    # _scan_bfill / groupby_interpolate)
    w_f = (
        Window.partitionBy(*by)
        .orderBy(F.col(on).desc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # materialize each carry ONCE — the nearest-direction chooser references
    # both carries ~4× each, and every occurrence of a window Column in a
    # downstream tree instantiates its own window expression (r8)
    if direction == "backward":
        unioned = unioned.withColumn(
            "__cb", F.last(F.col("__r"), ignorenulls=True).over(w_b)
        )
        chosen = F.col("__cb")
    elif direction == "forward":
        unioned = unioned.withColumn(
            "__cf", F.last(F.col("__r"), ignorenulls=True).over(w_f)
        )
        chosen = F.col("__cf")
    else:
        unioned = unioned.withColumns(
            {
                "__cb": F.last(F.col("__r"), ignorenulls=True).over(w_b),
                "__cf": F.last(F.col("__r"), ignorenulls=True).over(w_f),
            }
        )
        carry_b, carry_f = F.col("__cb"), F.col("__cf")
        lts = time_expr_to_seconds(F.col(on), on_dt)
        d_b = lts - time_expr_to_seconds(carry_b["__rts"], r_on_dt)
        d_f = time_expr_to_seconds(carry_f["__rts"], r_on_dt) - lts
        chosen = (
            F.when(carry_f.isNull(), carry_b)
            .when(carry_b.isNull(), carry_f)
            .when(d_b <= d_f, carry_b)
            .otherwise(carry_f)
        )
    # a left row with a NULL timestamp has no as-of position at all — it
    # must stay unmatched under EVERY direction (r7 review: NULLs sort
    # first, so the forward carry would otherwise attach the partition's
    # earliest right row, and nearest would fall through to it)
    chosen = F.when(F.col(on).isNotNull(), chosen)

    carried = (
        unioned.select("*", chosen.alias("__c"))
        .where(F.col("__side") == 1)
        .drop("__cb", "__cf")
    )

    matched = F.col("__c").isNotNull()
    if tolerance is not None:
        cts = F.col("__c")["__rts"]
        delta = time_expr_to_seconds(F.col(on), on_dt) - time_expr_to_seconds(
            cts, r_on_dt
        )
        if direction == "forward":
            delta = -delta
        elif direction == "nearest":
            delta = F.abs(delta)
        matched = matched & (delta <= F.lit(float(tolerance)))

    out_cols = (
        [F.col(c) for c in lcols]
        + [
            F.when(matched, F.col("__c")[c]).alias(f"{c}{suffix}")
            for c in rcols
        ]
        + [F.when(matched, F.col("__c")["__rts"]).alias(f"{on}{suffix}")]
    )
    return carried.select(*out_cols)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str] | str,
    how: str = "inner",
    salt: int = 16,
    suffix: str = "_right",
    hot_keys: Sequence | None = None,
) -> DataFrame:
    """Skew-mitigating equi-join: the classic salting rewrite for the case
    AQE's skew-join splitting can't reach (a single hot key whose matching
    build rows themselves overflow one task).

    The hot key's left rows all hash to ONE reducer in a plain shuffle
    join; salting splits them ``salt`` ways — each left row gets a
    deterministic salt from a hash of its whole tuple, and the (small)
    right side is replicated once per salt value, so every left row still
    meets exactly one copy of each matching right row.  Join output is
    therefore IDENTICAL to the unsalted join for ``inner`` and ``left``
    semantics (right/full would multiply unmatched right rows — rejected).

    Cost model: with ``hot_keys=None`` the WHOLE right side grows
    ``salt``× — only sensible for a dimension-sized right side.  Pass
    ``hot_keys`` (the known hot key values — single values, or tuples for
    a multi-column ``on``) and only those keys salt: non-hot rows take
    salt 0 on both sides, so right-side replication is bounded by
    |hot matches| · (salt−1) extra rows instead of |right| · salt — the
    form that survives a fact⋈fact join where one key holds 1% of the
    table.  Hot-key lists come cheap from a pre-pass
    (``df.groupBy(key).count().orderBy(F.desc("count")).limit(k)``) or a
    :func:`~dask_groupby_spark.operators.sketches.cms_estimate` over
    candidates.  ``salt`` bounds the split (16–64 is typical; more
    spreads thinner but replicates more).

    Colliding non-key right columns are suffixed.  No flox counterpart
    (SURVEY.md §2.4) — Spark-native scale surface, same family as
    ``range_join``'s shuffle-shape rewrite.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left' (got {how!r}): "
            "replicating the right side multiplies unmatched right rows "
            "under right/full semantics"
        )
    if salt < 1:
        raise ValueError(f"salt must be >= 1 (got {salt})")
    lcols = left.columns
    rename = {
        c: f"{c}{suffix}" for c in right.columns if c in lcols and c not in keys
    }
    for old, new in rename.items():
        if new in lcols or new in right.columns:
            raise ValueError(f"suffixed column {new!r} still collides")
        right = right.withColumnRenamed(old, new)
    # deterministic per-row salt: hash of the full left tuple, NOT a key
    # column (the whole point is splitting identical keys apart) and NOT
    # rand() (breaks retry/replay determinism on task re-execution)
    row_salt = F.pmod(F.xxhash64(*[F.col(c) for c in lcols]), F.lit(salt))
    all_salts = F.array(*[F.lit(i) for i in range(salt)])
    if hot_keys is None:
        lsalted = left.withColumn("__salt", row_salt)
        rsalted = right.withColumn("__salt", F.explode(all_salts))
    else:
        # partial salting: only the declared hot keys split; everything
        # else keeps salt 0, so the right side replicates ONLY its hot rows
        def hot_pred(cols):
            preds = []
            for hk in hot_keys:
                vals = hk if isinstance(hk, (tuple, list)) else (hk,)
                if len(vals) != len(keys):
                    raise ValueError(
                        f"hot key {hk!r} arity != join keys {keys!r}"
                    )
                eq = F.lit(True)
                for k, v in zip(cols, vals):
                    eq = eq & (F.col(k) == F.lit(v))
                preds.append(eq)
            return reduce(lambda a, b: a | b, preds) if preds else F.lit(False)

        lsalted = left.withColumn(
            "__salt", F.when(hot_pred(keys), row_salt).otherwise(F.lit(0))
        )
        rsalted = right.withColumn(
            "__salt",
            F.explode(
                F.when(hot_pred(keys), all_salts).otherwise(
                    F.array(F.lit(0))
                )
            ),
        )
    out = lsalted.join(rsalted, on=keys + ["__salt"], how=how)
    return out.drop("__salt")


def bloom_bits_table(
    keys: DataFrame,
    on: str,
    num_bits: int = 1 << 23,
    num_hashes: int = 3,
) -> DataFrame:
    """Distributed Bloom filter over ``keys[on]`` as a ``(word, bits)``
    table: each key sets ``num_hashes`` bit positions
    (``pmod(xxhash64(key, seed_i), m)``), positions pack into 64-bit
    words via a map-combined ``bit_or`` — the result is ≤ ``m/64`` rows
    (2⁲³ bits → 128 Ki rows ≈ 1 MiB) REGARDLESS of key count, which is
    the whole point: a 100 M-row key set that could never broadcast
    collapses to a broadcastable bitmap.

    The table never touches the driver — downstream consumers broadcast
    it with Spark's own mechanism (:func:`bloom_prefilter`).  Persist it
    with ``save_table`` to reuse across jobs (bitmaps OR together, so
    incremental key batches union by re-aggregating ``bit_or``).
    """
    if num_bits % 64:
        raise ValueError("num_bits must be a multiple of 64")
    if num_hashes < 1:
        raise ValueError("num_hashes must be >= 1")
    # canonicalize to STRING before hashing: xxhash64 is type-sensitive
    # (xxhash64(1::INT) != xxhash64(1::BIGINT)), so a build/probe key-type
    # mismatch — routine parquet schema drift — would silently produce
    # false NEGATIVES in a filter whose contract is "zero false negatives"
    # (r7 review).  bloom_prefilter applies the same cast.
    k = keys.select(F.col(on).cast("string").alias("__k")).where(
        F.col("__k").isNotNull()
    )
    pos = [
        F.pmod(F.xxhash64("__k", F.lit(i)), F.lit(num_bits)) for i in range(num_hashes)
    ]
    exploded = k.select(
        F.explode(F.array(*pos)).alias("__pos")
    ).select(
        F.shiftright("__pos", 6).alias("word"),
        # pyspark's shiftleft() only accepts a literal int shift — go
        # through call_function for a per-row (column) shift amount
        F.call_function(
            "shiftleft",
            F.lit(1).cast("bigint"),
            F.col("__pos").bitwiseAND(F.lit(63)).cast("int"),
        ).alias("__bit"),
    )
    return exploded.groupBy("word").agg(F.bit_or("__bit").alias("bits"))


def bloom_prefilter(
    df: DataFrame,
    bits: DataFrame,
    on: str,
    num_bits: int = 1 << 23,
    num_hashes: int = 3,
) -> DataFrame:
    """Keep the rows of ``df`` whose ``on`` key PROBABLY appears in the
    Bloom ``bits`` table (from :func:`bloom_bits_table` with the SAME
    ``num_bits``/``num_hashes``) — a superset of the true matches with
    false-positive rate ≈ ``(1 - e^(-kn/m))^k``, zero false negatives.

    Map-side only from ``df``'s perspective: ``num_hashes`` broadcast
    hash joins against the ≤ m/64-row bitmap (aliased per hash seed), so
    the big side NEVER shuffles — this is the 100 TB shuffle-killer: cut
    a fact table to the ~matching fraction BEFORE the exact join's
    Exchange.  NULL keys never match (semi-join semantics).
    """
    out = df.where(F.col(on).isNotNull())
    key_s = F.col(on).cast("string")  # same canonical form as the build side
    for i in range(num_hashes):
        pos = F.pmod(F.xxhash64(key_s, F.lit(i)), F.lit(num_bits))
        w = F.shiftright(pos, 6)
        b = F.call_function(
            "shiftleft", F.lit(1).cast("bigint"), pos.bitwiseAND(F.lit(63)).cast("int")
        )
        bt = F.broadcast(
            bits.select(F.col("word").alias(f"__w{i}"), F.col("bits").alias(f"__b{i}"))
        )
        out = (
            out.withColumn(f"__w{i}", w)
            .join(bt, on=f"__w{i}", how="inner")
            .where(F.col(f"__b{i}").bitwiseAND(b) != 0)
            .drop(f"__w{i}", f"__b{i}")
        )
    return out


def bloom_semi_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    num_bits: int = 1 << 23,
    num_hashes: int = 3,
    exact: bool = True,
) -> DataFrame:
    """EXACT semi join of ``big`` against ``small``'s keys, with a Bloom
    prefilter cutting the big side map-side first.  Use when ``small``'s
    key set is too large to broadcast (the broadcast-join regime needs no
    Bloom) but its BITMAP is not: the prefilter drops the non-matching
    bulk of ``big`` before the exact semi join's Exchange, so the shuffle
    carries ~|matches| + fpp·|big| rows instead of |big|.

    ``exact=False`` skips the verification join and returns the
    prefiltered superset (acceptable when downstream tolerates the fpp,
    e.g. candidate generation).

    The ``num_hashes`` probe joins broadcast the same bitmap subtree, so
    the bitmap is built once and the other probes read a
    ``ReusedExchange``; nothing is persisted.
    """
    bits = bloom_bits_table(small, on, num_bits, num_hashes)
    cand = bloom_prefilter(big, bits, on, num_bits, num_hashes)
    if not exact:
        return cand
    return cand.join(small.select(F.col(on)).distinct(), on=on, how="leftsemi")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    by: Sequence[str] = (),
    bucket_width: float = 3600.0,
    suffix: str = "_right",
) -> DataFrame:
    """Inner join of INTERVALS to INTERVALS on overlap:
    ``l.start ≤ r.end AND r.start ≤ l.end`` (+ equal ``by`` keys) — the
    session-vs-session / annotation-vs-annotation alignment
    :func:`range_join` (point-in-interval) cannot express.

    Same grid decomposition as ``range_join`` — each interval explodes
    into its covered fixed-width buckets and the join is a hash
    equi-join on ``(by…, bucket)`` — plus the standard dedup-free
    assignment trick: a qualifying pair may share MANY buckets, so the
    exact predicate additionally requires the joint bucket to be the one
    containing ``greatest(l.start, r.start)`` (the overlap's first
    instant).  Every overlapping pair is emitted from exactly ONE
    bucket — no distinct pass over the (potentially huge) pair stream.

    ``bucket_width`` (seconds when the bounds are timestamps) ≈ typical
    interval length: wider buckets → fewer exploded rows; narrower →
    fewer same-bucket false candidates.  Degenerate (end < start) and
    NULL-bound intervals are dropped.  Output: left columns + right
    columns suffixed (``by`` keys unsuffixed).
    """
    by = list(by)
    left = normalize_time(left, left_start, left_end)
    right = normalize_time(right, right_start, right_end)
    w = float(bucket_width)

    def _explode(df: DataFrame, s: str, e: str, tag: str) -> DataFrame:
        ss, ee = time_to_seconds(df, s), time_to_seconds(df, e)
        df = df.where(ss.isNotNull() & ee.isNotNull() & (ee >= ss))
        b0 = F.floor(ss / F.lit(w)).cast("bigint")
        b1 = F.floor(ee / F.lit(w)).cast("bigint")
        return df.withColumn(
            f"__bucket_{tag}", F.explode(F.sequence(b0, b1))
        ).withColumn(f"__s_{tag}", ss).withColumn(f"__e_{tag}", ee)

    l = _explode(left, left_start, left_end, "l")
    r = _explode(right, right_start, right_end, "r")
    for c in right.columns:
        if c in left.columns and c not in by:
            new = f"{c}{suffix}"
            # same guard as salted_join: a pre-existing column with the
            # suffixed name would silently duplicate and poison every
            # downstream reference with AMBIGUOUS_REFERENCE
            if new in left.columns or new in right.columns:
                raise ValueError(f"suffixed column {new!r} still collides")
            r = r.withColumnRenamed(c, new)
    cond = [l[f"__bucket_l"] == r[f"__bucket_r"]] + [l[k] == r[k] for k in by]
    joined = l.join(r, reduce(lambda a, b: a & b, cond), "inner")
    ls, le = l["__s_l"], l["__e_l"]
    rs, re_ = r["__s_r"], r["__e_r"]
    overlap = (ls <= re_) & (rs <= le)
    anchor = l["__bucket_l"] == F.floor(F.greatest(ls, rs) / F.lit(w)).cast("bigint")
    out = joined.where(overlap & anchor)
    # keep ONE copy of the by keys (the LEFT side's; the right copies drop)
    out = out.drop("__bucket_l", "__bucket_r", "__s_l", "__e_l", "__s_r", "__e_r")
    for k in by:
        out = out.drop(r[k])
    return out
