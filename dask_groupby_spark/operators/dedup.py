"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB:

- exact dedup = hash-groupBy on a digest — one shuffle on the digest key;
  the digest is computed map-side so the shuffle carries (digest, id) only.
- MinHash/LSH = explode shingles → one base hash per shingle (xxhash64 by
  default) → H affine permutations → band buckets → self-join *within
  buckets only*.  The band-bucket groupBy is the inverted index; no O(n²)
  pair enumeration.
- SimHash = weighted bit-vote over token hashes, one aggregate per document.
- n-gram Jaccard = shingle inverted-index self-join (pairs share ≥1 shingle)
  + intersection counting — the classic "candidates via index" plan; the
  threshold filter prunes before any wide row is built.

Hashing is pluggable per operator (``hasher=``): "fast" (xxhash64,
codegen'd — the production default) or "portable"
(``bigint(hex(md5(x)[:15]))``, identical in Spark
``conv(substr(md5(x),1,15),16,10)`` and DuckDB
``cast('0x'||substr(md5(x),1,15) as bigint)``) so every operator here is
oracle-checkable on demand.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text import tokens


def portable_hash(col: Column, seed: int | str = "") -> Column:
    """Deterministic 60-bit hash shared bit-for-bit with the DuckDB oracle.
    Slow path (md5 + hex conv) — use only when cross-engine checkability is
    required; the production default everywhere is :func:`fast_hash`."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15), 16, 10
    ).cast("bigint")


def fast_hash(col: Column, seed: int | str = "") -> Column:
    """xxhash64 (JVM-side, codegen'd) — the 100 TB-scale default.  Mapped to
    a nonnegative 63-bit value so downstream ``% p`` arithmetic matches the
    portable path's domain."""
    return F.xxhash64(F.concat(F.lit(f"{seed}:"), col)).bitwiseAND(
        F.lit((1 << 63) - 1)
    )


def _hasher(name: str):
    if name == "portable":
        return portable_hash
    if name == "fast":
        return fast_hash
    raise ValueError(f"unknown hasher {name!r} (expected 'fast' or 'portable')")


def _hash_domain(name: str) -> float:
    """Output-domain size of :func:`_hasher`'s hashes — 2^60 (portable) /
    2^63 (fast).  Lives HERE, next to the masking it mirrors, so rate /
    threshold call sites (train_test_split, mixture_sample, KMV) can't
    silently skew if the masking ever changes."""
    _hasher(name)  # validate the name with the canonical error
    return float(1 << 60) if name == "portable" else float(1 << 63)


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup via content digest: one row per distinct content with its
    occurrence count and canonical (minimum) id."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("keep_id"))
    )


def shingles(text_col: Column, k: int = 3) -> Column:
    """Word k-shingles as strings ('tok1 tok2 tok3').

    Documents shorter than k tokens yield an EMPTY shingle set —
    ``sequence(1, n-k+1)`` must be guarded because Spark's ``sequence(1, 0)``
    is the descending ``[1, 0]`` and ``slice(_, 0, _)`` throws."""
    toks = tokens(text_col)
    n = F.size(toks)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - k + 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " "))


def _shingle_rows(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, shingle) rows, distinct per document (set semantics).

    Dedup happens map-side via ``array_distinct`` BEFORE the explode — a
    ``.distinct()`` after the explode would shuffle every (id, shingle) row
    in the corpus just to drop within-document repeats, which the array
    fold removes for free.  Ids are assumed unique per input row (the same
    contract as :func:`minhash_signatures`)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(F.col(text_col), k))).alias("sh"),
    )


MINHASH_P = 2147483647  # 2^31 − 1 (Mersenne prime)


def minhash_params(i: int) -> tuple[int, int]:
    """Deterministic affine-permutation coefficients for hash i (odd a)."""
    a = ((40503 * i + 11939) * 2 + 1) % MINHASH_P
    b = (94261 * i + 12289) % MINHASH_P
    return a, b


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_k: int = 3,
    hasher: str = "fast",
) -> DataFrame:
    """MinHash signature per document: ONE base hash per shingle, then H
    affine permutations ``(a_i * h + b_i) mod p`` — the classic
    one-hash/many-permutations construction (hashing per seed would cost H
    digests per shingle).  Output: (id, mh_0..mh_{H-1}).

    ``hasher="fast"`` (default) uses codegen'd xxhash64 — the scale path;
    ``hasher="portable"`` uses the md5-derived hash reproducible in the
    DuckDB oracle (slower; only for cross-engine verification).

    Plan shape: explode(position index) → native shingle string → hash →
    H ``partial_min`` aggregates.  The token array is computed once per
    document, the POSITIONS ``0..n−k`` are exploded (the array column is
    retained through the Generate), and each shingle string is built
    post-explode with ``concat_ws(' ', toks[i], …, toks[i+k−1])`` — plain
    codegen'd GetArrayItem/concat, no higher-order functions anywhere on
    the per-shingle path.  All H permutation mins are computed in the
    map-side PARTIAL hash aggregation (every shingle of a document lives
    in one input row, hence one partition), so the Exchange moves exactly
    ONE compact row per document — ``(id, H longs)``, ~8H bytes — not
    shingle rows.

    History (r12): the previous formulation kept the shingle set as an
    array column (`shingles`: transform+slice+array_join) and folded each
    permutation with ``array_min(transform(…))``.  That plan is
    zero-shuffle, but Spark's higher-order functions are CodegenFallback —
    each lambda application is interpreted per element — and a sub-stage
    profile showed the H interpreted folds were ~60% of the signature
    map's wall and the HOF shingle build most of the rest.  Replacing the
    folds with explode+partial-agg measured 1.9× at sf10 (15.3s vs 29.7s,
    500k docs); replacing the HOF shingle build with the position-explode
    measured a further 3.2× at sf1 — both bit-identical to the old output
    (same strings, same hashes, left-to-right equivalence checked by
    exceptAll in both directions at sf0.1/sf1/sf10).  The compact
    per-document exchange this adds is noise next to the band-bucket
    shuffle every caller performs right after.  (The old docstring claimed
    the explode plan shuffles |corpus tokens| rows — wrong: map-side
    partial aggregation collapses to |docs| rows before the Exchange,
    verified in the physical plan.)

    min() is insensitive to duplicate shingles, so set semantics come free.
    Documents with fewer than ``shingle_k`` tokens have an empty shingle set
    and are omitted, exactly like rows that explode to nothing.  Ids are
    assumed unique per input row; two rows sharing an id merge into ONE
    signature (min over the union of their shingles) rather than two rows.
    """
    hash_fn = _hasher(hasher)
    toks = df.select(
        F.col(id_col).alias("id"),
        tokens(F.col(text_col)).alias("__toks"),
    )
    n = F.size(F.col("__toks"))
    idx = F.when(n >= shingle_k, F.sequence(F.lit(0), n - shingle_k)).otherwise(
        F.array().cast("array<int>")
    )
    sh = F.concat_ws(
        " ", *[F.col("__toks")[F.col("__i") + j] for j in range(shingle_k)]
    )
    exploded = toks.select("id", "__toks", F.explode(idx).alias("__i")).select(
        "id", (hash_fn(sh) % F.lit(MINHASH_P)).alias("__h")
    )
    aggs = []
    for i in range(num_hashes):
        a, b = minhash_params(i)
        aggs.append(
            F.min((F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh_{i}")
        )
    return exploded.groupBy("id").agg(*aggs)


def capped_bucket_pairs(
    rows: DataFrame,
    bucket_cols: list[str],
    max_bucket_size: int | None,
    id_col: str = "id",
) -> DataFrame:
    """In-bucket pair enumeration with a hard bound on pairs per bucket.

    The naive bucket self-join emits O(|bucket|²) rows; one degenerate
    bucket (boilerplate templates, near-empty documents) makes the whole
    job quadratic.  The bounded plan ranks bucket members by id and joins
    only the first ``max_bucket_size`` members ("anchors") against all
    members:

    - |bucket| ≤ cap: every member is an anchor, so the output is exactly
      the all-pairs set — bit-for-bit identical to the uncapped plan;
    - |bucket| > cap: O(|bucket| · cap) pairs, and every member still pairs
      with anchor 1, so the bucket stays one connected component for
      transitive clustering (a giant bucket is near-certain mutual
      duplicates — the star-to-anchors subgraph preserves that verdict
      without enumerating the clique).

    ``max_bucket_size=None`` keeps the plain self-join (no window sort).
    Output: one row per (a, b) co-bucket event with every ``rows`` column
    prefixed ``a_``/``b_`` (a.id < b.id); callers aggregate or score.
    """
    others = [c for c in rows.columns if c != id_col and c not in bucket_cols]

    def side(df, tag):
        return df.select(
            *bucket_cols,
            F.col(id_col).alias(f"{tag}_{id_col}"),
            *[F.col(c).alias(f"{tag}_{c}") for c in others],
            *([F.col("__rk").alias(f"{tag}___rk")] if "__rk" in df.columns else []),
        )

    if max_bucket_size is None:
        joined = side(rows, "a").join(side(rows, "b"), on=bucket_cols, how="inner")
        return joined.where(F.col(f"a_{id_col}") < F.col(f"b_{id_col}"))
    from pyspark.sql import Window

    wo = Window.partitionBy(*bucket_cols).orderBy(id_col)
    ranked = rows.withColumn("__rk", F.row_number().over(wo))
    anchors = ranked.where(F.col("__rk") <= max_bucket_size)
    joined = side(anchors, "a").join(side(ranked, "b"), on=bucket_cols, how="inner")
    # rank order == id order within a bucket, so a___rk < b___rk ⇔ a_id < b_id
    return joined.where(F.col("a___rk") < F.col("b___rk")).drop("a___rk", "b___rk")


def sorted_bucket_pairs(
    rows: DataFrame,
    bucket_cols: list[str],
    member,
    pair,
    max_bucket_size: int | None = None,
    spill_threshold: int | None = None,
    salt_partitions: int = 64,
) -> DataFrame:
    """The shared bucket-array pair-enumeration plan (LSH bands, shingle
    buckets, frame/perceptual-hash buckets all use it): ONE groupBy on the
    bucket key collects each bucket's ``member`` structs into a sorted
    array, then ``pair(a, b)`` structs for every a<b (by sort order)
    enumerate map-side with nested array HOFs — the upstream pipeline is
    computed once (a bucket self-join computes it per side: the renames
    defeat ReuseExchange) and there is no join at all.

    ``max_bucket_size`` caps enumeration to the anchor star: pairs (i, j)
    with i < j and i < cap over the sorted bucket — identical output when
    no bucket exceeds the cap, O(|bucket|·cap) on a degenerate one, every
    member still connected to anchor 0 for transitive clustering.

    ``spill_threshold`` bounds the other half of the degenerate-bucket
    risk: the cap bounds ENUMERATION but the bucket member array itself
    was still collected whole into one row (linear — ~8 MB at 10⁶
    members, but a 10⁸-member pathology would concentrate gigabytes in
    one task).  With the threshold set, collection is salted two-level
    (no row ever holds more than ~|bucket|/salt_partitions members or
    salt_partitions·cap anchor candidates) and buckets larger than the
    threshold never re-assemble: their anchor star enumerates through a
    join against the bounded anchor array instead (see
    :func:`_spilled_bucket_pairs`).  Output is identical to the un-spilled
    capped plan whenever bucket members are distinct — true for every
    in-repo caller (one row per (id, bucket)).  Requires
    ``max_bucket_size`` ≤ ``spill_threshold``.

    Returns one exploded column ``p`` per pair; callers project/aggregate.

    Spill-tier economics (r11, VERDICT r10 item #7): before engaging the
    spill machinery, a driver-only metadata row bound on ``rows``
    (parquet footers / cached-relation stats — the
    :func:`~dask_groupby_spark.plans._metadata_row_bound` ladder) is
    tried: a bucket can never hold more members than ``rows`` has rows,
    so ``bound <= spill_threshold`` proves no bucket can spill and the
    plain single-level plan runs with ZERO extra jobs or shuffles —
    bit-identical output, r9 plan shape.  Only unboundable frames (e.g.
    an explode in the lineage) pay the pre-count probe.
    """
    if spill_threshold is not None:
        from ..plans import _metadata_row_bound

        bound = _metadata_row_bound(rows, limit=spill_threshold)
        if bound is not None and bound <= spill_threshold:
            spill_threshold = None
    if spill_threshold is not None:
        return _spilled_bucket_pairs(
            rows, bucket_cols, member, pair,
            max_bucket_size, spill_threshold, salt_partitions,
        )
    buckets = (
        rows.groupBy(*bucket_cols)
        .agg(F.array_sort(F.collect_list(member)).alias("mem"))
        .where(F.size("mem") >= 2)
    )
    return bucket_pairs_from(buckets, "mem", pair, max_bucket_size)


def _spilled_bucket_pairs(
    rows: DataFrame,
    bucket_cols: list[str],
    member,
    pair,
    max_bucket_size: int | None,
    spill_threshold: int,
    salt_partitions: int,
) -> DataFrame:
    """Giant-bucket-safe tier of :func:`sorted_bucket_pairs`.

    The over-threshold decision comes FIRST, from a narrow counts-only
    aggregate over the (lazily localCheckpoint-ed) member rows — keys and
    longs through the shuffle, no arrays, map-side combined.  In the
    overwhelmingly common case — no bucket over the threshold — the
    collection is then the PLAIN single-level ``collect_list`` (per-task
    memory provably ≤ ``spill_threshold`` members because the pre-count
    just proved no bucket exceeds it), and none of the salt/regroup/
    anti-join/star machinery enters the plan.  r10 shipped the salted
    two-level collection unconditionally; its regroup pass re-shuffled
    every member array even on healthy corpora — the documented +0.36s
    near_dedup price that r11 removes (VERDICT r10 item #7).

    Only when the pre-count finds a pathological bucket does the salted
    tier engage: level 1 groups by (bucket, salt(member)) so each partial
    row holds ~|bucket|/P members; level 2 re-assembles sub-threshold
    buckets whole (bounded) and, for spilling buckets, merges per-partial
    bottom-``cap`` slices into the anchor array (pool ≤ P·cap — bounded
    regardless of bucket size) and streams members against it — pairs
    (a, b) with a an anchor and a < b, exactly the sorted-array anchor
    star when members are distinct.  A 10⁸-member bucket therefore costs
    O(n/P) memory per task, never O(n).

    NOTE: the tier choice costs one tiny driver job at CONSTRUCTION time
    (``over.take(1)`` on the counts aggregate over the checkpointed rows
    — work both tiers need anyway).  Callers that need a fully-lazy
    primitive use ``spill_threshold=None``.
    """
    if max_bucket_size is None:
        raise ValueError(
            "spill_threshold requires max_bucket_size: a bucket beyond the "
            "threshold cannot materialize, so its enumeration must be the "
            "bounded anchor star"
        )
    if max_bucket_size > spill_threshold:
        raise ValueError(
            f"max_bucket_size={max_bucket_size} must be <= "
            f"spill_threshold={spill_threshold} (buckets under the threshold "
            "re-assemble whole and apply the cap there)"
        )
    cap = max_bucket_size
    # lazy checkpoint: the upstream pipeline (signature hashing, band
    # explode — the one corpus scan) runs exactly once, feeding both the
    # pre-count and whichever collection tier wins, with no
    # session-lifetime cache to leak
    base = rows.select(*bucket_cols, member.alias("__m")).localCheckpoint(
        eager=False
    )
    # spilling buckets are near-empty by definition (each holds more rows
    # than the threshold), so the decision keys off the TINY over-
    # threshold set: the size aggregate is narrow (counts only — no arrays
    # through the shuffle) and, on the pathological path, the anti/semi
    # joins against it are AQE broadcasts at runtime.
    over = (
        base.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > spill_threshold)
        .select(*bucket_cols)
    )
    if not over.take(1):
        # healthy corpus: plain single-level collection — the pre-count
        # proved every bucket ≤ spill_threshold members, so the collected
        # array is bounded by construction
        buckets = (
            base.groupBy(*bucket_cols)
            .agg(F.array_sort(F.collect_list("__m")).alias("mem"))
            .where(F.size("mem") >= 2)
        )
        return bucket_pairs_from(buckets, "mem", pair, cap)
    part = (
        base.groupBy(
            *bucket_cols,
            F.pmod(F.xxhash64("__m"), F.lit(salt_partitions)).alias("__salt"),
        )
        .agg(F.array_sort(F.collect_list("__m")).alias("__mp"))
        .drop("__salt")
        # the partial index feeds three consumers below (sub-threshold
        # regroup, the spilling semi-join, the anchor merge) — checkpoint
        # so the salted collection itself runs once
        .localCheckpoint(eager=False)
    )
    small = (
        part.join(over, on=bucket_cols, how="left_anti")
        .groupBy(*bucket_cols)
        .agg(F.array_sort(F.flatten(F.collect_list("__mp"))).alias("mem"))
        .where(F.size("mem") >= 2)
    )
    small_pairs = bucket_pairs_from(small, "mem", pair, cap)
    # anchors (bottom-cap members) for spilling buckets only: merge the
    # per-partial bottom-cap slices — pool ≤ salt_partitions·cap, bounded
    # no matter how big the bucket is
    big_part = part.join(over, on=bucket_cols, how="left_semi")
    anchors = (
        big_part.select(*bucket_cols, F.slice("__mp", 1, cap).alias("__pa"))
        .groupBy(*bucket_cols)
        .agg(
            F.slice(
                F.array_sort(F.flatten(F.collect_list("__pa"))), 1, cap
            ).alias("__anchors")
        )
    )
    big = big_part.join(anchors, on=bucket_cols).select(
        "__anchors", F.explode("__mp").alias("__b")
    )
    big_pairs = big.select(
        F.explode(
            F.filter("__anchors", lambda a: a < F.col("__b"))
        ).alias("__a"),
        "__b",
    ).select(pair(F.col("__a"), F.col("__b")).alias("p"))
    return small_pairs.unionByName(big_pairs)


def bucket_pairs_from(
    buckets: DataFrame,
    mem_col: str,
    pair,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Pair enumeration half of :func:`sorted_bucket_pairs`, for callers
    that need the bucket arrays themselves too (e.g. a document-frequency
    filter between collection and enumeration)."""
    mem, n = F.col(mem_col), F.size(mem_col)
    n_anchor = F.least(F.lit(max_bucket_size), n) if max_bucket_size is not None else n
    arr = F.flatten(
        F.transform(
            F.slice(mem, F.lit(1), n_anchor),
            lambda a, i: F.transform(
                F.slice(mem, i + F.lit(2), n - i - F.lit(1)),
                lambda b: pair(a, b),
            ),
        )
    )
    return buckets.select(F.explode(arr).alias("p"))


def _capped_drop_buckets(
    rows: DataFrame,
    bucket_col: str,
    member,
    cap: int,
    salt_partitions: int = 64,
) -> DataFrame:
    """Collect per-bucket member arrays, DROPPING buckets bigger than
    ``cap`` — with per-task memory bounded at every level, in ONE pass.

    The naive shape (`collect_list` then `where(size(mem) <= cap)`)
    materializes the hot bucket's full array into one row BEFORE the
    filter — the giant-bucket task-memory hazard.  Here collection is
    salted two-level and each partial contributes at most ``cap + 1``
    members to the merge: the exact total count ``n`` (summed separately)
    decides the drop, and whenever ``n <= cap`` every partial held at
    most ``cap`` members, so the sliced merge is the COMPLETE sorted
    array — identical output to the naive shape, with the level-2 pool
    bounded at ``salt_partitions·(cap+1)`` members no matter how big the
    pathological bucket is (a 10⁸-member stop-gram peaks at ~n/64 ids in
    a level-1 row and ~64·cap in level 2).  No checkpoint, no probe, no
    join — the same single-shuffle-chain plan class as the naive shape.

    Returns (``bucket_col``, ``mem``) for every bucket with n ≤ cap,
    singletons included (callers needing only pair-able buckets filter
    ``size(mem) >= 2`` themselves).
    """
    m = member if isinstance(member, Column) else F.col(member)
    part = (
        rows.select(F.col(bucket_col), m.alias("__m"))
        .groupBy(
            bucket_col,
            F.pmod(F.xxhash64("__m"), F.lit(salt_partitions)).alias("__s"),
        )
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.slice(
                F.array_sort(F.collect_list("__m")), 1, cap + 1
            ).alias("__mp"),
        )
    )
    return (
        part.groupBy(bucket_col)
        .agg(
            F.sum("__c").alias("__n"),
            F.array_sort(F.flatten(F.collect_list("__mp"))).alias("mem"),
        )
        .where(F.col("__n") <= cap)
        .select(bucket_col, "mem")
    )


def _band_rows(
    signatures: DataFrame, num_hashes: int, bands: int, hasher: str
) -> DataFrame:
    """(id, band, bh) rows: one band-hash per (document, band) — the LSH
    inverted-index entries.  Map-only (a 4-element explode per doc)."""
    if bands < 1 or bands > num_hashes or num_hashes % bands != 0:
        # bands > num_hashes would make every band hash the constant
        # hash("") — the whole corpus lands in ONE bucket per band and the
        # candidate join goes all-pairs O(n^2); a non-divisor silently
        # drops the trailing signature rows (r9 review)
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes}"
        )
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        concat = F.concat_ws(",", *[c.cast("string") for c in cols])
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                _hasher(hasher)(concat, "band").alias("bh"),
            )
        )
    return signatures.select(
        F.col("id"), F.explode(F.array(*band_cols)).alias("bandkey")
    ).select("id", F.col("bandkey.band").alias("band"), F.col("bandkey.bh").alias("bh"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    hasher: str = "fast",
    max_bucket_size: int | None = None,
    spill_threshold: int | None = None,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of
    ``num_hashes/bands`` rows; documents sharing any band hash are candidate
    near-duplicate pairs.  Output: (id_a, id_b, n_shared_bands), id_a < id_b.

    The band groupBy is the inverted index — pair enumeration happens only
    inside buckets, never globally.  ``max_bucket_size`` additionally bounds
    the per-bucket work: buckets larger than the cap emit anchor-star pairs
    instead of the full clique (see :func:`capped_bucket_pairs`) — identical
    output whenever no bucket exceeds the cap, bounded O(|bucket| · cap)
    enumeration when one does.  ``spill_threshold`` bounds per-TASK memory
    as well: buckets beyond it never materialize as one array row — their
    anchor star enumerates through a join (see :func:`sorted_bucket_pairs`),
    so even a 10⁸-member pathological bucket cannot OOM a task.  The 100 TB
    composition default (``near_deduplicate``) sets both; the primitive
    defaults to None so the uncapped plan stays exactly oracle-checkable.
    """
    exploded = _band_rows(signatures, num_hashes, bands, hasher)
    # Bucket-array plan instead of an in-bucket self-join (see
    # :func:`sorted_bucket_pairs`): signatures are computed once — the join
    # formulation computed them per side and paid an SMJ; 1.75× faster at
    # sf1, and the arrays hold ids only (a degenerate 10⁶-doc bucket is an
    # 8 MB row) with the cap bounding the quadratic enumeration.
    pairs = sorted_bucket_pairs(
        exploded, ["band", "bh"], F.col("id"),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        max_bucket_size,
        spill_threshold=spill_threshold,
    )
    return (
        pairs.groupBy(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    metric: str = "jaccard",
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard similarity ≥ threshold.

    ``metric="containment"`` scores Broder's containment instead —
    ``|A∩B| / min(|A|, |B|)`` (the larger of the two directional
    containments): the sub-document detector Jaccard misses, e.g. a
    tweet pasted verbatim into a long article scores containment 1.0 but
    near-zero Jaccard.  Same candidate pipeline and caps; the output
    score column is named after the metric.

    Candidates come from a shingle inverted-index self-join (pairs must share
    ≥1 shingle), intersection sizes from one groupBy, union sizes from the
    per-doc shingle counts — no cross join at any scale.
    Output: (id_a, id_b, jaccard).

    ``max_shingle_df`` bounds the other quadratic corner: a shingle present
    in d documents emits O(d²) join rows, and boilerplate shingles ("all
    rights reserved") reach corpus-scale d.  With the cap set, shingles whose
    document frequency exceeds it are dropped from the index BEFORE the
    self-join (one window count on the same ``sh`` shuffle key the join
    needs), and both n_common and the per-doc sizes are computed over the
    surviving shingle space — i.e. exact Jaccard over the stop-shingle-
    filtered sets, the standard formulation.  Hot shingles carry ~zero
    discriminative signal, so recall loss is confined to pairs similar ONLY
    in boilerplate.  ``None`` (the primitive's default) keeps the full
    shingle space.

    Plan: bucket-array enumeration, like :func:`lsh_candidate_pairs`.  One
    groupBy(sh) collects each shingle's (id, set-size) members into a
    sorted array; pairs enumerate map-side with array HOFs, carrying both
    documents' set sizes through, so the per-(pair) groupBy computes the
    Jaccard directly — no per-doc sizes table, no broadcast of a
    |corpus|-row side (the earlier self-join formulation force-broadcast
    the per-doc size table: a driver OOM at corpus scale), and the shingle
    pipeline is computed ONCE.  With ``max_shingle_df`` the per-doc sizes
    must be recounted over the *surviving* shingle space — the bucket table
    is persisted across its three consumers (AQE does not reuse the
    groupBy(sh) Exchange between them; release it via the returned frame's
    ``ngram_shingle_buckets.unpersist()``) — plus two AQE-strategy joins on
    the already-thresholded pair counts.
    """
    if metric not in ("jaccard", "containment"):
        raise ValueError(
            f"metric must be 'jaccard' or 'containment', got {metric!r}"
        )
    base = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles(F.col(text_col), k)).alias("shs"),
    ).where(F.size("shs") > 0)
    sh = base.select("id", F.size("shs").alias("n"), F.explode("shs").alias("sh"))
    capped = max_shingle_df is not None
    member = F.struct(F.col("id"), F.lit(0).alias("n")) if capped else F.struct("id", "n")
    if capped:
        # Giant-bucket-safe collection (r10): the old shape collected the
        # hot shingle's FULL member array into one row and only then
        # dropped it (`where(size(mem) <= cap)`) — the same task-memory
        # hazard the LSH spill tier closes.  :func:`_capped_drop_buckets`
        # bounds every level of the collection (salted partials sliced to
        # cap+1; the exact count decides the drop) with the same
        # single-shuffle-chain plan class, identical output.  Downstream
        # is unchanged: the `surviving` bucket table (every array ≤ cap
        # by construction) is persisted across its THREE consumers (pair
        # enumeration + the sizes recount joined per pair side — Spark
        # does not reuse the Exchange across them; measured 13 parquet
        # scans and 1.7× the uncapped wall at sf0.1 before the persist);
        # result.ngram_shingle_buckets.unpersist() releases it eagerly.
        surviving = _capped_drop_buckets(
            sh, "sh", member, max_shingle_df
        ).persist()
    else:
        surviving = sh.groupBy("sh").agg(
            F.array_sort(F.collect_list(member)).alias("mem")
        )
    # singleton buckets produce no pairs but DO count toward each document's
    # surviving-set size, so the ≥2 filter applies to enumeration only
    buckets = surviving.where(F.size("mem") >= 2)
    pairs = bucket_pairs_from(
        buckets, "mem",
        lambda a, b: F.struct(
            a["id"].alias("id_a"), b["id"].alias("id_b"),
            a["n"].alias("n_a"), b["n"].alias("n_b"),
        ),
    )
    inter = (
        pairs.groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.max("p.n_a").alias("n_a"),
            F.max("p.n_b").alias("n_b"),
        )
    )
    if capped:
        # sizes over the surviving shingle space only
        sizes = (
            surviving.select(F.explode("mem").alias("m"))
            .groupBy(F.col("m.id").alias("id"))
            .agg(F.count(F.lit(1)).alias("n_sh"))
        )
        inter = (
            inter.drop("n_a", "n_b")
            .join(sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
            .join(sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        )
    if metric == "jaccard":
        score = F.col("n_common").cast("double") / (
            F.col("n_a") + F.col("n_b") - F.col("n_common")
        )
    else:
        score = F.col("n_common").cast("double") / F.least("n_a", "n_b")
    out = (
        inter.withColumn(metric, score)
        .where(F.col(metric) >= F.lit(threshold))
        .select("id_a", "id_b", metric)
    )
    if capped:
        # unpersist handle (same contract as bm25_scores.bm25_doc_lengths)
        out.ngram_shingle_buckets = surviving
    return out


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    hasher: str = "fast",
) -> DataFrame:
    """SimHash document signature: each token votes ±1 on ``bits`` bit
    positions of its portable hash; the sign of each position's sum forms
    the signature.  Output: (id, simhash BIGINT).

    One explode + one groupBy(id) with ``bits`` conditional sums — a single
    shuffle; the bit votes are plain integer arithmetic (codegen'd).
    """
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    h = _hasher(hasher)(F.col("tok"))
    # bit extraction MUST use integer shifts: double division loses bits for
    # hashes above 2^53
    votes = [
        F.sum(
            F.when((F.shiftright(h, i) % 2) == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"v_{i}")
        for i in range(bits)
    ]
    agg = tok.groupBy("id").agg(*votes)
    sig = reduce(
        lambda acc, i: acc
        + F.when(F.col(f"v_{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0)),
        range(bits),
        F.lit(0),
    )
    return agg.select("id", sig.cast("bigint").alias("simhash"))


def _union_find(pdf):
    """Union-find over an edge frame's ``src``/``dst`` columns: one
    ``(id, cluster)`` row per vertex, ``cluster`` its component minimum
    (union by min keeps each root the minimum, so labels equal the
    distributed min-label result exactly).  Direction and repeated edges
    are irrelevant."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for s, d in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        rs, rd = find(s), find(d)
        if rs != rd:
            if rd < rs:
                rs, rd = rd, rs
            parent[rd] = rs
    verts = list(parent)
    return pd.DataFrame({"id": verts, "cluster": [find(v) for v in verts]})


def _collected_union_find(edges: DataFrame) -> DataFrame:
    """Collect a persisted ``src``/``dst`` edge list, release it, and
    union-find it on the driver: the result is a local relation, so
    nothing stays pinned for the caller's action."""
    dtype = edges.schema["src"].dataType
    pdf = edges.toPandas()  # Arrow batch transfer, not Py4J rows
    edges.unpersist()
    return edges.sparkSession.createDataFrame(_union_find(pdf), _uf_schema(dtype))


def _uf_schema(dtype) -> T.StructType:
    return T.StructType([T.StructField("id", dtype), T.StructField("cluster", dtype)])


_MAX_DRIVER_EDGES = 2_000_000


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    out_id: str = "id",
    out_cluster: str = "cluster_id",
    max_driver_edges: int | None = _MAX_DRIVER_EDGES,
) -> DataFrame:
    """Transitive duplicate clusters from a candidate-pair edge list
    (LSH/Jaccard/embedding near-dup output): connected components —
    every member of a component gets the component's minimum id as
    ``cluster_id``.

    The step near-dup *pipelines* actually need after candidate pairs:
    A~B and B~C must collapse to ONE keeper even though (A, C) was never
    emitted as a pair.

    Three tiers, all exact and identical in output.  ``max_driver_edges``
    (default 2M) caps the symmetrized edges one union-find may hold:

    - **bounded** (a driver-side row bound on ``pairs``,
      :func:`~dask_groupby_spark.plans._metadata_row_bound` — parquet
      footers / cached-relation / local-relation stats, no Spark job —
      with 2 × bound ≤ ``max_driver_edges``): one union-find over the
      non-null pairs in ONE task, a constant-key grouped
      ``applyInPandas``.  Lazy: building runs no job and persists
      nothing; the caller's action runs the whole pipeline.
    - **small** (no such bound, symmetrized edge count ≤
      ``max_driver_edges``): the edges are counted and collected at build
      and the same union-find runs on the driver (Arrow both ways,
      nothing left persisted).
    - **at scale**: ONE star-contraction pass first — m(v) =
      min(v ∪ neighbors(v)) via a map-combined groupBy, every edge
      mapped to (m(src), m(dst)), self-loops dropped.  Components are
      preserved exactly and each component's minimum survives as its
      own m-vertex, so labels computed on the contracted graph compose
      back as final(v) = final'(m(v)).  Dup graphs are unions of
      band-bucket cliques/stars, so contraction typically removes ~95%+
      of the edges; if the contracted set counts ≤ ``max_driver_edges``
      it is collected into the same union-find, else the min-label
      propagation loop (each round one join + one groupBy, two hops per
      materialization, type-agnostic changed-count convergence,
      localCheckpoint lineage cuts) runs over the contracted — never
      larger — edge list.

    ``max_driver_edges=None/0`` forces contraction and the min-label
    loop.

    Output: one row per vertex appearing in ``pairs`` — (out_id,
    out_cluster).  Singleton documents (no pair) are their own cluster by
    definition and are simply absent here.
    """
    from ..plans import _metadata_row_bound

    bound = _metadata_row_bound(pairs, limit=max_driver_edges // 2) if max_driver_edges else None
    return _clusters(pairs, id_a, id_b, max_iter, max_driver_edges, bound).select(
        F.col("id").alias(out_id), F.col("cluster").alias(out_cluster)
    )


def _clusters(
    pairs: DataFrame,
    id_a: str,
    id_b: str,
    max_iter: int,
    max_driver_edges: int | None,
    edge_bound: int | None,
) -> DataFrame:
    """:func:`duplicate_clusters`' body, returning ``(id, cluster)``;
    ``edge_bound`` is an upper bound on ``pairs``' rows (None when
    unknown) that picks the tier.  ``max_driver_edges`` counts
    symmetrized edges, two per pair."""
    a, b = F.col(id_a), F.col(id_b)
    if max_driver_edges and edge_bound is not None and 2 * edge_bound <= max_driver_edges:
        # F.array coerces both endpoints to their COMMON wider type (int vs
        # bigint id columns label every vertex in one type); NULL endpoints
        # carry no identity to cluster on, so their pairs are dropped
        e = F.array(a, b)
        edges = pairs.where(a.isNotNull() & b.isNotNull()).select(
            e[0].alias("src"), e[1].alias("dst")
        )
        return edges.groupBy(F.lit("all")).applyInPandas(  # an int literal is an ordinal
            _union_find, _uf_schema(edges.schema["src"].dataType)
        )
    edges = (
        # symmetrize with a map-side explode, NOT pairs ∪ pairs.flipped:
        # a union re-executes the caller's (unpersisted) pair pipeline once
        # PER BRANCH — at sf1 that silently doubled near_deduplicate's
        # dominant cost (the whole LSH sig/bucket/enumeration chain ran
        # twice, measured 7.4 s vs 3.7 s).  The explode doubles rows from a
        # single execution instead.
        pairs.select(
            F.explode(
                F.array(
                    F.struct(a.alias("src"), b.alias("dst")),
                    F.struct(b.alias("src"), a.alias("dst")),
                )
            ).alias("__e")
        )
        .select(F.col("__e.src").alias("src"), F.col("__e.dst").alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .persist()
    )
    # Without a bound the edges are counted (this also fills the persist
    # that contraction reuses) and a small list is collected: the
    # contraction below pins m, a localCheckpoint, in the returned frame.
    n_edges = edges.count()
    if max_driver_edges and n_edges <= max_driver_edges:
        return _collected_union_find(edges)
    # star contraction (r13: every propagation round re-shuffled the FULL
    # edge list, 15.7 s of near_dedup's 19.3 s at sf10).  m only merges
    # vertices already connected, and the component minimum w has
    # m(w) = w, so w survives and min-labels on the contracted graph ARE
    # the original component minima.
    m = (
        edges.groupBy("src")
        .agg(F.least(F.min("dst"), F.col("src")).alias("mlbl"))
        .select(F.col("src").alias("mv"), "mlbl")
        # lazy checkpoint, not persist: materialized by the contracted-
        # edge count below, blocks freed with the DataFrame (no
        # CacheManager entry to leak) — the caller's final action reads
        # the checkpointed rows instead of re-running the edge pipeline
        .localCheckpoint(eager=False)
    )
    contracted = (
        # edges is symmetric, so (m(src), m(dst)) lands in both orders —
        # the contracted set stays symmetric with no extra explode
        edges.join(m.select(F.col("mv").alias("src"), F.col("mlbl").alias("__ms")), on="src")
        .join(m.select(F.col("mv").alias("dst"), F.col("mlbl").alias("__md")), on="dst")
        .where(F.col("__ms") != F.col("__md"))
        .select(F.col("__ms").alias("src"), F.col("__md").alias("dst"))
        .distinct()
        .persist()
    )
    n_c = contracted.count()
    edges.unpersist()

    def _finalize(root_lbls: DataFrame | None) -> DataFrame:
        """out(v) = root(m(v)) from (vertex, label) roots; m-values whose
        whole component collapsed into them carry no contracted edge and
        keep label m(v)."""
        if root_lbls is None:
            return m.select(F.col("mv").alias("id"), F.col("mlbl").alias("cluster"))
        r = root_lbls.toDF("__rv", "__rlbl")
        return m.join(r, m.mlbl == F.col("__rv"), "left").select(
            F.col("mv").alias("id"),
            F.coalesce(F.col("__rlbl"), F.col("mlbl")).alias("cluster"),
        )

    if n_c == 0:
        return _finalize(None)
    if max_driver_edges and n_c <= max_driver_edges:
        return _finalize(_collected_union_find(contracted))
    # per-round parallelism sized to the subgraph (~1M edges/partition): a
    # session-default shuffle per round on a small graph is pure overhead
    p = max(1, min(contracted.rdd.getNumPartitions(), n_c // 1_000_000 + 1))
    # keep the handle to the PERSISTED frame: rebinding `edges` to the
    # repartitioned child made the tail unpersist a no-op and leaked the
    # cached symmetrized edge list for the session (r9 review)
    edges_cached = contracted
    edges = contracted.repartition(p, "dst")
    labels = edges.select(F.col("src").alias("v")).distinct().select(
        "v", F.col("v").alias("lbl")
    ).persist()

    def step(lbls):
        # min label over closed neighborhood: own label ∪ neighbors' labels
        nbr = edges.join(lbls, edges.dst == lbls.v).select(
            edges.src.alias("v"), "lbl"
        )
        return (
            lbls.select("v", "lbl").union(nbr)
            .repartition(p, "v")
            .groupBy("v")
            .agg(F.min("lbl").alias("lbl"))
        )

    for _ in range(max_iter):
        # two hops per materialization: near-dup clusters have tiny
        # diameters, so doubling the hop count per blocking round halves
        # the number of driver round-trips; the checkpoint is lazy — the
        # convergence count below is the job that materializes it
        new = step(step(labels)).localCheckpoint(eager=False)
        # exact, type-agnostic convergence certificate: compare against the
        # previous round (both sides hash-partitioned by v from the
        # groupBy, so the join adds no Exchange).  NOT a Σlbl aggregate —
        # sum() of a STRING label column is NULL, and NULL == NULL would
        # have silently stopped the loop after one round for string ids.
        changed = (
            new.join(labels.select("v", F.col("lbl").alias("__prev")), on="v")
            .where(F.col("lbl") != F.col("__prev"))
            .count()
        )
        labels.unpersist()
        labels = new
        if changed == 0:
            break
    edges_cached.unpersist()
    # labels cover the CONTRACTED vertices — compose with m to label every
    # original vertex (labels is localCheckpoint-ed by the loop, so the
    # caller's action reads materialized blocks, not the loop lineage)
    return _finalize(labels)


def near_deduplicate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    hasher: str = "fast",
    max_iter: int = 20,
    max_bucket_size: int | None = 10_000,
    spill_threshold: int | None = 1_000_000,
    keep_by: str | None = None,
) -> DataFrame:
    """End-to-end near-duplicate removal: MinHash signatures → LSH band
    buckets → candidate pairs → transitive clusters → keep the minimum-id
    member of each cluster (or the best-quality member, see ``keep_by``).

    Returns the surviving rows of ``df`` (all original columns).  This is
    the composition the individual operators exist for: at 100 TB the only
    per-corpus-row work is signature hashing (map-side) and one band-bucket
    shuffle; pair enumeration, clustering, and the keeper anti-join all run
    on the (tiny, LSH-filtered) candidate subgraph.

    Since r13 the clustering stage consumes each bucket's spanning STAR
    (min member → every other member) instead of the enumerated pair
    clique: connectivity — the only thing transitive clustering reads —
    is identical per bucket, so survivors are bit-identical to the
    clique formulation at EVERY ``max_bucket_size``/``spill_threshold``
    setting (the capped clique above the cap was already the anchor
    star), while the candidate edge list shrinks from Σ s(s-1)/2 to
    Σ (s-1) rows.  ``max_bucket_size`` is kept for API stability (the
    star makes the enumeration cap moot — per-bucket work is O(s)
    regardless); ``None`` historically forced the uncapped clique and
    now simply disables the spill guard, as before.

    ``spill_threshold`` (default 1 000 000) still guards task MEMORY on
    degenerate buckets: a bucket beyond it enumerates its star through a
    join instead of re-assembling the member array in one row (identical
    edges, see :func:`sorted_bucket_pairs`).  Ignored when
    ``max_bucket_size`` is None.

    ``keep_by`` names a numeric quality column of ``df`` (a
    ``hash_classifier_score`` / ``lm_quality_score`` output, a length…):
    each cluster then keeps its HIGHEST-quality member (ties → smallest
    id) instead of the min-id one — what production pipelines actually
    want, since the arbitrary min-id member may be the truncated copy.
    Costs one extra join + window over the (tiny) cluster table only.
    """
    from ..plans import _metadata_row_bound

    sig = minhash_signatures(
        df, id_col, text_col, num_hashes=num_hashes, shingle_k=shingle_k, hasher=hasher
    )
    # each band bucket's spanning STAR (the anchor-star cap at 1, see the
    # docstring): the clique's connectivity in Σ (s-1) edges, not Σ s(s-1)/2
    exploded = _band_rows(sig, num_hashes, bands, hasher)
    # One driver-only metadata bound on the CORPUS frame (parquet footers
    # / cached-relation stats; the band-explode hides the generic per-rows
    # bound) serves both caps.  A band bucket holds at most one row per
    # document, so |docs| <= spill_threshold proves no bucket can spill
    # (r11): drop the spill machinery, bit-identical output.  And each
    # document is a non-anchor star member of at most one bucket per band,
    # so the star has at most bands·|docs| rows, twice that symmetrized:
    # within max_driver_edges it clusters lazily in one task.
    if max_bucket_size is None:
        spill_threshold = None
    corpus_bound = _metadata_row_bound(
        df, limit=max(_MAX_DRIVER_EDGES // (2 * bands), spill_threshold or 0)
    )
    if corpus_bound is not None and spill_threshold is not None and corpus_bound <= spill_threshold:
        spill_threshold = None
    star = sorted_bucket_pairs(
        exploded,
        ["band", "bh"],
        F.col("id"),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        max_bucket_size=1,
        spill_threshold=spill_threshold,
    ).select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
    clusters = _clusters(
        star, "id_a", "id_b", max_iter, _MAX_DRIVER_EDGES,
        None if corpus_bound is None else bands * corpus_bound,
    )
    if keep_by is None:
        losers = clusters.where(F.col("id") != F.col("cluster")).select(
            F.col("id").alias(id_col)
        )
    else:
        from pyspark.sql import Window

        qual = df.select(
            F.col(id_col).alias("id"), F.col(keep_by).alias("__q")
        )
        w = Window.partitionBy("cluster").orderBy(
            # NaN sorts ABOVE every double in Spark: without the NaN->NULL
            # guard a NaN-quality member would outrank every real score and
            # become the cluster keeper (r9 review)
            F.when(~F.isnan(F.col("__q")), F.col("__q")).desc_nulls_last(),
            F.col("id").asc(),
        )
        losers = (
            clusters.join(qual, on="id")
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") > 1)
            .select(F.col("id").alias(id_col))
        )
    return df.join(losers, on=id_col, how="left_anti")


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_repeats: int = 2,
    group_on_hash: bool = False,
    hasher: str = "fast",
) -> DataFrame:
    """Exact duplicated k-token span statistics across the corpus
    (the discovery half of substring-level dedup a la "Deduplicating
    Training Data Makes Language Models Better": which exact k-token
    windows repeat, how often, in how many documents).

    Returns (span, n_occurrences, n_docs), filtered to spans occurring at
    least ``min_repeats`` times.

    Scale: spans are generated map-side (one array expression per row); the
    single shuffle is the groupBy.  With ``group_on_hash=True`` the shuffle
    key is a 63-bit hash instead of the raw span string (k tokens each —
    ~8x narrower shuffle rows at k=8) and the span column carries the
    minimum witness string; collisions at 63 bits are negligible at any
    corpus size.  The default groups on the raw string for bit-exact
    oracle checkability.
    """
    sp = df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(F.col(text_col), k)).alias("span"),
    )
    if group_on_hash:
        h = _hasher(hasher)
        sp = sp.select("id", h(F.col("span"), "span").alias("key"), "span")
        grouped = sp.groupBy("key").agg(
            F.min("span").alias("span"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("id").alias("n_docs"),
        ).drop("key")
    else:
        grouped = sp.groupBy("span").agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("id").alias("n_docs"),
        )
    return grouped.where(F.col("n_occurrences") >= min_repeats)


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_repeats: int = 2,
    out_col: str = None,
) -> DataFrame:
    """Substring-level dedup: every occurrence of a duplicated k-token span
    EXCEPT the first (global (id, pos) order) has its k token positions
    removed; the surviving tokens are reassembled in order.

    Distributed plan (no driver data path):
      1. (id, pos, span) rows map-side via posexplode of the shingle array;
      2. one shuffle on span: count + row_number window marks every
         non-first occurrence of a repeated span;
      3. removed occurrences explode to covered token indexes
         (pos .. pos+k-1), distinct per doc;
      4. tokens posexplode + left_anti join on (id, tokidx), then a
         groupBy(id) rebuild via sorted (tokidx, token) structs.
    Shuffles: span-window, covered-distinct, anti-join, rebuild — all
    key-partitioned on span or id; no step holds more than one document's
    tokens in a single state.

    Overlapping duplicated spans within one document are all removed (their
    covered index sets union); a document reduced to nothing yields ''.
    """
    from pyspark.sql import Window

    out_col = out_col or text_col
    toks = tokens(F.col(text_col))
    sp = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(shingles(F.col(text_col), k)).alias("pos", "span"),
    )
    w = Window.partitionBy("span").orderBy("id", "pos")
    wall = Window.partitionBy("span")
    occ = sp.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__cnt", F.count(F.lit(1)).over(wall)
    )
    removed = occ.where((F.col("__cnt") >= min_repeats) & (F.col("__rn") >= 2))
    covered = removed.select(
        "id", F.explode(F.sequence(F.col("pos"), F.col("pos") + k - 1)).alias("tokidx")
    ).distinct()
    trows = df.select(
        F.col(id_col).alias("id"), F.posexplode(toks).alias("tokidx", "tok")
    )
    kept = trows.join(covered, on=["id", "tokidx"], how="left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tokidx", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("__rebuilt")
    )
    # rebuilt's key gets a reserved name so the expression join stays
    # unambiguous even when id_col itself is named "id"
    rebuilt = rebuilt.withColumnRenamed("id", "__rid")
    res = df.join(rebuilt, on=F.col(id_col) == F.col("__rid"), how="left").drop("__rid")
    return res.withColumn(out_col, F.coalesce(F.col("__rebuilt"), F.lit(""))).drop(
        "__rebuilt"
    )


# ---------------------------------------------------------------------------
# Persisted MinHash-LSH index: incremental dedup against an existing corpus
# ---------------------------------------------------------------------------


def minhash_index_write(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    hasher: str = "fast",
    mode: str = "overwrite",
) -> None:
    """Materialize a MinHash-LSH index for INCREMENTAL near-dedup: dedupe
    each new crawl batch against the full corpus without recomputing the
    corpus (the standard production loop — at 100 TB, re-sketching the
    whole corpus per batch is the cost being amortized away).  Layout:

    - ``{path}/bands/band=<b>/…`` — (bh, id) inverted-index entries, band as
      a physical partition directory, rows sorted by ``bh`` within files so
      parquet row-group min/max statistics can skip non-candidate buckets
      when the probe pushes a ``bh IN (…)`` filter;
    - ``{path}/signatures/`` — (id, mh_0..mh_{H-1}) for Jaccard estimation;
    - ``{path}/meta/`` — the 1-row sketch-parameter table.  Probes MUST use
      identical parameters or band hashes are incomparable, so
      :func:`minhash_index_probe` reads them from here rather than trusting
      the caller.

    ``mode="append"`` grows the index with a new batch (parameters are
    validated against the stored meta); pair it with
    :func:`near_duplicates_against_index` in an ingest loop: probe the
    batch, drop its duplicates, append the survivors.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError("mode must be 'overwrite' or 'append'")
    spark = df.sparkSession
    if mode == "append":
        stored = _index_meta(spark, path)
        ours = dict(num_hashes=num_hashes, bands=bands, shingle_k=shingle_k, hasher=hasher)
        if stored != ours:
            raise ValueError(f"index at {path} was built with {stored}, got {ours}")
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k, hasher)
    band_rows = _band_rows(sig, num_hashes, bands, hasher)
    (
        band_rows.repartition("band")
        .sortWithinPartitions("bh")
        .write.partitionBy("band")
        .mode(mode)
        .parquet(f"{path}/bands")
    )
    sig.write.mode(mode).parquet(f"{path}/signatures")
    if mode == "overwrite":
        spark.createDataFrame(
            [(num_hashes, bands, shingle_k, hasher)],
            "num_hashes int, bands int, shingle_k int, hasher string",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def _index_meta(spark, path: str) -> dict:
    row = spark.read.parquet(f"{path}/meta").head()
    return dict(
        num_hashes=row["num_hashes"], bands=row["bands"],
        shingle_k=row["shingle_k"], hasher=row["hasher"],
    )


def minhash_index_probe(
    spark,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_pushdown_buckets: int = 10_000,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs between a new batch and a persisted
    index (:func:`minhash_index_write`).  Output: (new_id, index_id,
    n_shared_bands).

    Plan: the batch is sketched with the index's stored parameters (read
    from ``{path}/meta`` — caller cannot desynchronize them), then joined
    to the index's band rows on (band, bh).  When the batch produces at
    most ``max_pushdown_buckets`` band hashes, the distinct ``bh`` values
    (a KB-sized driver list, same budget class as the IVF centroid
    collect) are inlined as a ``bh IN (…)`` predicate — that filter reaches
    the parquet scan, where the bh-sorted file layout turns it into
    row-group skipping: the corpus index is mostly never read.  Larger
    batches fall back to the plain join (AQE picks the strategy); the
    index side still never carries more than (bh, id) per row.

    The batch signature table feeds TWO consumers (the pushdown collect
    and the join probe) and Spark does not reuse exchanges across them —
    it is therefore PERSISTED so the batch is sketched once (release via
    the returned frame's ``batch_signatures.unpersist()``), unless the
    caller passes ``signatures=`` (a precomputed signature table built
    with the index's stored parameters — ownership stays with the caller).
    """
    meta = _index_meta(spark, path)
    if signatures is None:
        sig = minhash_signatures(
            new_docs, id_col, text_col,
            meta["num_hashes"], meta["shingle_k"], meta["hasher"],
        ).persist()
        owned = True
    else:
        sig, owned = signatures, False
    probe = _band_rows(sig, meta["num_hashes"], meta["bands"], meta["hasher"]).select(
        F.col("id").alias("new_id"), "band", "bh"
    )
    index = spark.read.parquet(f"{path}/bands").select(
        F.col("id").alias("index_id"), "band", "bh"
    )
    bhs = [r["bh"] for r in probe.select("bh").distinct().limit(max_pushdown_buckets + 1).collect()]
    if len(bhs) <= max_pushdown_buckets:
        index = index.where(F.col("bh").isin(bhs))
    # join strategy stays AQE's size-based pick: the old F.broadcast(probe)
    # hint was gated on the DISTINCT-bucket count, which does not bound the
    # probe's ROW count — a huge batch concentrated in few buckets would
    # have been force-broadcast into the driver.  AQE broadcasts a small
    # probe from its actual runtime size and shuffles a huge one; the
    # bh IN (…) pushdown above prunes the index scan either way.
    out = (
        index.join(probe, on=["band", "bh"], how="inner")
        .groupBy("new_id", "index_id")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    if owned:
        out.batch_signatures = sig  # unpersist handle
    return out


def near_duplicates_against_index(
    spark,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_pushdown_buckets: int = 10_000,
) -> DataFrame:
    """Near-duplicates of a new batch against a persisted index, verified by
    estimated Jaccard (fraction of agreeing minhash components — the
    standard unbiased MinHash estimator).  Output: (new_id, index_id,
    n_shared_bands, est_jaccard ≥ threshold).

    Composition: :func:`minhash_index_probe` (candidates; index mostly
    unread thanks to the bh pushdown) → join the two signature tables on
    the candidate ids only → score map-side.  The candidate set is
    LSH-bucketed, never all-pairs.  The batch is sketched ONCE: a single
    persisted signature table serves the probe's pushdown collect, the
    probe join, and the Jaccard verification columns (release it via the
    returned frame's ``batch_signatures.unpersist()`` — the production
    ingest loop does this per batch).
    """
    meta = _index_meta(spark, path)
    h = meta["num_hashes"]
    sig = minhash_signatures(
        new_docs, id_col, text_col, h, meta["shingle_k"], meta["hasher"]
    ).persist()
    cands = minhash_index_probe(
        spark, path, new_docs, id_col, text_col, max_pushdown_buckets,
        signatures=sig,
    )
    new_sig = sig.select(
        F.col("id").alias("new_id"),
        *[F.col(f"mh_{i}").alias(f"a_mh_{i}") for i in range(h)],
    )
    idx_sig = spark.read.parquet(f"{path}/signatures").select(
        F.col("id").alias("index_id"), *[F.col(f"mh_{i}").alias(f"b_mh_{i}") for i in range(h)]
    )
    agree = sum(
        F.when(F.col(f"a_mh_{i}") == F.col(f"b_mh_{i}"), 1).otherwise(0) for i in range(h)
    )
    out = (
        cands.join(new_sig, on="new_id")
        .join(idx_sig, on="index_id")
        .withColumn("est_jaccard", agree / F.lit(float(h)))
        .where(F.col("est_jaccard") >= threshold)
        .select("new_id", "index_id", "n_shared_bands", "est_jaccard")
    )
    out.batch_signatures = sig  # unpersist handle
    return out


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_len: int = 0,
    normalize: bool = False,
    count_cols: bool = False,
) -> DataFrame:
    """CROSS-document paragraph dedup with document reconstruction — the
    corpus-wide "keep the first occurrence of every paragraph" cleaning
    step (C4 / RefinedWeb style: a cookie banner or licence block pasted
    into a million pages survives in exactly ONE document).  The
    intra-document variant is
    :func:`~dask_groupby_spark.operators.text.remove_repeated_segments`;
    span-level (substring) dedup is :func:`remove_duplicate_spans`.

    Semantics: split each document on ``sep``; a paragraph occurrence is
    kept iff it is the globally FIRST occurrence of that paragraph text
    under the total order ``(id, position)``, or shorter than
    ``max(min_len, 1)`` characters (empty segments from consecutive
    separators — blank-line structure — are never deduped, and neither
    are real segments under ``min_len``);
    surviving paragraphs rejoin in original order.  Documents losing all
    paragraphs come back as ``''`` (they are kept as rows — dropping is
    the caller's policy, e.g. ``length(text) > 0``), and a NULL text is
    treated as the empty document (one empty segment → reconstructed
    ``''``), not silently dropped.
    ``normalize=True`` fingerprints on the whitespace-collapsed
    lowercase form (near-boilerplate with spacing jitter still dedups)
    while the KEPT text stays verbatim.

    Plan shape (two Exchanges, both on narrow-ish rows): posexplode is
    map-side; the first-occurrence decision is ONE window over
    ``partitionBy(fingerprint)`` ordered by ``(id, pos)`` — each
    paragraph's candidate set shuffles together, state per fingerprint
    is one row; reassembly is ONE ``groupBy(id)`` with a map-combined
    ``collect_list`` of ``(pos, seg)`` structs, sorted and joined
    in-expression.  Nothing collects to the driver; the hot-key analog
    (a paragraph duplicated 10⁸×) costs a single window partition of
    narrow rows — sort-based, spillable — not a pair blow-up, because
    the decision is rank-1, never pairwise.
    """
    import re as _re

    from pyspark.sql import Window

    other = [c for c in df.columns if c not in (id_col, text_col)]
    # NULL text reads as the empty document: split(NULL) explodes to zero
    # rows, which would drop the document from the output entirely (the
    # reassembly join is inner on ids that produced segments) — coalesce
    # keeps the row, reconstructed as '' like any fully-deduped document
    segs = F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), _re.escape(sep)))
    rows = df.select(F.col(id_col).alias("__id"), segs.alias("__pos", "__seg"))
    fp = F.lower(F.regexp_replace(F.trim(F.col("__seg")), r"\s+", " ")) if normalize else F.col("__seg")
    # FULL 128-bit md5, not the 60-bit portable_hash: at ~10^10 distinct
    # paragraphs a 2^60 space expects birthday collisions, and a collision
    # here silently DELETES unrelated content (and diverges from the
    # oracle, which partitions by the raw segment)
    rows = rows.withColumn("__fp", F.md5(fp))
    w = Window.partitionBy("__fp").orderBy("__id", "__pos")
    flagged = rows.withColumn(
        "__keep",
        # empty segments (consecutive separators — blank-line structure)
        # are never deduped, whatever min_len says; real segments shorter
        # than min_len are likewise always kept
        (F.length("__seg") < F.greatest(F.lit(min_len), F.lit(1)))
        | (F.row_number().over(w) == 1),
    )
    rebuilt = (
        flagged.groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("seg_n_before"),
            F.sum(F.col("__keep").cast("int")).alias("seg_n_after"),
            F.array_sort(
                F.collect_list(
                    F.when(F.col("__keep"), F.struct("__pos", "__seg"))
                )
            ).alias("__kept"),
        )
        .select(
            F.col("__id").alias(id_col),
            "seg_n_before",
            "seg_n_after",
            F.array_join(F.transform("__kept", lambda s: s["__seg"]), sep).alias(
                text_col
            ),
        )
    )
    if other:
        # re-attach passthrough columns (id join — co-partitioned sizes)
        rebuilt = df.drop(text_col).join(rebuilt, on=id_col)
        rebuilt = rebuilt.select(
            id_col, *other, "seg_n_before", "seg_n_after", text_col
        )
    if not count_cols:
        rebuilt = rebuilt.drop("seg_n_before", "seg_n_after")
    return rebuilt


def char_grams(text_col: Column, k: int = 3) -> Column:
    """Distinct character k-grams of a string (positional windows via
    substring).  Strings shorter than ``k`` yield an empty set — same
    ``sequence`` guard as :func:`shingles`."""
    n = F.length(text_col)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - k + 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(idx, lambda i: F.substring(text_col, i, k))
    )


# Stop-gram cap defaults (r11, VERDICT r10 #3).  The old absolute default
# (df <= 256) provably zeroes recall at 10x bench density — on the sf1
# corpus EVERY customer-name gram exceeds 256 and the result silently
# empties (0 of ~10M true pairs, found by the sf1 battery).  A pure
# relative cap breaks the other end: ceil(0.05 * n) < 2 on corpora under
# 40 records drops every SHARED gram and nothing ever pairs.  The default
# is therefore max(256, ceil(0.05 * n)) — the old absolute as a FLOOR
# (small corpora behave exactly as before), density-relative growth above
# it (dense corpora stay blockable at any scale).  Costs one scalar count
# job at construction (the spill-probe precedent).  Passing EITHER
# parameter explicitly (including max_gram_df=None for "uncapped") opts
# out of the default entirely.
_GRAM_DF_REL_DEFAULT = 0.05
_GRAM_DF_FLOOR_DEFAULT = 256
_CAP_UNSET = object()


def _resolve_gram_cap(base: DataFrame, max_gram_df, rel_gram_df) -> int | None:
    """Resolve the (max_gram_df, rel_gram_df) pair to ONE absolute cap —
    shared bit-for-bit by :func:`edit_distance_pairs` and its audit
    :func:`gram_blocking_stats` so the audit always audits exactly the
    config the matcher runs."""
    import math as _math

    if max_gram_df is _CAP_UNSET and rel_gram_df is _CAP_UNSET:
        return max(
            _GRAM_DF_FLOOR_DEFAULT,
            _math.ceil(_GRAM_DF_REL_DEFAULT * base.count()),
        )
    if max_gram_df is _CAP_UNSET:
        max_gram_df = None
    if rel_gram_df is _CAP_UNSET:
        rel_gram_df = None
    if rel_gram_df is not None:
        if max_gram_df is not None:
            raise ValueError(
                "pass max_gram_df OR rel_gram_df, not both (the relative "
                "cap computes an absolute one from the record count)"
            )
        if not (0.0 < rel_gram_df <= 1.0):
            raise ValueError(f"rel_gram_df must be in (0, 1], got {rel_gram_df}")
        return max(1, _math.ceil(rel_gram_df * base.count()))
    return max_gram_df


# Record-count crossover for edit_distance_pairs' bucket aggregate tier
# (r13, VERDICT r12 #5): below it the inline count+slice groupBy wins
# (sf0.1 bench, 15k records: salted +15%); at/above it — or when the
# corpus row count cannot be bounded from metadata — the salted two-level
# _capped_drop_buckets wins and is the memory-safe choice (sf10 A/B, 1.5M
# records: 1.8× at the pinned cap 256, 1.34× at the density-robust cap;
# outputs proven row-identical).  Measured endpoints 15k and 1.5M; the
# crossover between them is uncharacterized, so the constant sits an
# order of magnitude above the proven-small endpoint.
_FUZZY_SALTED_MIN_RECORDS = 200_000


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 2,
    gram_k: int = 3,
    max_gram_df: int | None = _CAP_UNSET,
    max_bucket_size: int | None = None,
    prefix_blocking: bool = False,
    rel_gram_df: float | None = _CAP_UNSET,
) -> DataFrame:
    """Fuzzy string matching — the record-linkage primitive: all pairs of
    rows whose ``text_col`` values are within Levenshtein distance
    ``max_dist``, found by character q-gram blocking (never a cross
    join) and verified with the built-in DP distance.

    Recall guarantee (q-gram pigeonhole): one edit destroys at most
    ``gram_k`` grams, so two strings within ``max_dist`` edits share at
    least ``min_len − gram_k + 1 − max_dist·gram_k`` grams — positive
    whenever the shorter string has more than ``(max_dist+1)·gram_k − 1``
    characters, and the pair is then guaranteed to co-occur in some
    block.  ``max_gram_df`` drops stop-grams (a gram in every record
    blocks nothing and costs O(n²) enumeration — the ``ngram_jaccard``
    boilerplate cap, same trade: recall loss confined to pairs similar
    ONLY in dropped grams).  DEFAULT cap (r11): density-robust
    ``max(256, ceil(0.05 · |records|))`` — an ABSOLUTE cap's recall
    loss scales with corpus density (at 10× bench density every gram
    exceeded the old ``256`` default and the result was silently EMPTY,
    0 of ~10M true pairs — the r10 sf1-battery finding), while a pure
    RELATIVE cap under-blocks tiny corpora; the floor keeps small-corpus
    behavior identical to the historical default.  Pass ``max_gram_df``
    (absolute, ``None`` = uncapped) or ``rel_gram_df`` (pure
    ``ceil(frac · |records|)``) to override — mutually exclusive.  Run
    :func:`gram_blocking_stats` with the same config first on an
    unfamiliar corpus; its ``unblocked_records`` column is exactly the
    set of records the cap has made unpairable.  Strings shorter than
    ``gram_k`` produce no grams and never pair.

    Plan: one groupBy(gram) builds sorted (id, text) member arrays;
    candidate pairs enumerate map-side (``bucket_pairs_from``, optional
    anchor cap for degenerate blocks); multi-gram duplicates collapse in
    ONE pair-keyed aggregate BEFORE the distance, and the verify is the
    BANDED DP (``levenshtein(threshold=)``, O(len·max_dist) per pair
    instead of O(len²)).

    ``prefix_blocking=True`` is the 100 TB path (PPJoin-family prefix
    filter — Xiao et al., WWW'08): each record blocks only on its
    ``max_dist·gram_k + 1`` globally-RAREST surviving grams (global
    order = (gram df ASC, gram ASC)).  Prefix-filter theorem: a
    qualifying pair shares ≥ max(|G(a)|,|G(b)|) − max_dist·gram_k
    grams, so its two rarest-gram prefixes of that length must
    intersect — NO true match is lost relative to blocking on every
    gram (asserted against brute force in tests), while Σ\\|bucket\\|²
    (the enumerated-pair stream) shrinks quadratically with the prefix
    ratio.  It costs two extra KB-to-gram-table-sized shuffles (global
    df + per-record prefix pick), which at bench scale outweigh the
    pruning when ``max_gram_df`` has already slashed per-record gram
    counts below the prefix length — hence opt-in, the
    window/two_pass tier convention.
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    if gram_k < 1:
        raise ValueError(f"gram_k must be >= 1, got {gram_k}")
    base = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("txt")
    ).where(F.col(text_col).isNotNull())
    max_gram_df = _resolve_gram_cap(base, max_gram_df, rel_gram_df)
    grams = base.select(
        "id", "txt", F.explode(char_grams(F.col("txt"), gram_k)).alias("g")
    )
    # Buckets collect IDS ONLY (r10): members used to carry the whole
    # text through the gram shuffle — |grams/record| copies of every
    # string moved through the Exchange and sat in the bucket arrays (the
    # giant-bucket OOM made worse by payload width).  Texts are joined
    # back AFTER the pair-dedup aggregate, when only |distinct candidate
    # pairs| rows remain (AQE broadcasts whichever side is small).
    if prefix_blocking:
        # global gram frequencies drive both the stop-gram cap and the
        # prefix order (AQE broadcasts the df table when it is small)
        dftbl = grams.groupBy("g").agg(F.count(F.lit(1)).alias("__df"))
        pgrams = grams.select("id", "g").join(dftbl, on="g")
        if max_gram_df is not None:
            pgrams = pgrams.where(F.col("__df") <= max_gram_df)
        pfx = max_dist * gram_k + 1
        pref = (
            pgrams.groupBy("id")
            .agg(
                F.slice(
                    F.array_sort(F.collect_list(F.struct("__df", "g"))), 1, pfx
                ).alias("__pg"),
            )
            .select(
                "id",
                F.explode(F.transform("__pg", lambda s: s["g"])).alias("g"),
            )
        )
        buckets = pref.groupBy("g").agg(
            F.array_sort(F.collect_list("id")).alias("mem")
        )
    else:
        gl = grams.select("g", "id")
        if max_gram_df is not None:
            # Two value-identical bucket shapes, picked by the r11
            # metadata-bound ladder (driver-only, zero jobs — valid here:
            # `base` is a row-reducing plan over `df`):
            #
            # - small proven corpora (bound ≤ _FUZZY_SALTED_MIN_RECORDS):
            #   inline count + sliced output — the df drop uses the EXACT
            #   count while the emitted array is bounded at cap+1; one
            #   ObjectHashAggregate, fastest at bench scale (the salted
            #   tier measured +15% at sf0.1's 15k records);
            # - large or unboundable corpora: the salted two-level
            #   :func:`_capped_drop_buckets` — r13 sf10 A/B (1.5M
            #   records): 7.79 → 4.33 s at the pinned cap 256 and
            #   7.80 → 5.83 s at the density-robust default cap, because
            #   the single-level aggregate's buffer holds every hot
            #   stop-gram's FULL id list until the final `where` drops it
            #   (0.8 GB at a pathological 10⁸-degree gram) while the
            #   salted tier's per-row state is capped at every level.
            #   Output proven row-identical by exceptAll at both caps.
            from ..plans import _metadata_row_bound

            bound = _metadata_row_bound(base, limit=_FUZZY_SALTED_MIN_RECORDS)
            if bound is not None and bound <= _FUZZY_SALTED_MIN_RECORDS:
                buckets = (
                    gl.groupBy("g")
                    .agg(
                        F.count(F.lit(1)).alias("__n"),
                        F.slice(
                            F.array_sort(F.collect_list("id")), 1, max_gram_df + 1
                        ).alias("mem"),
                    )
                    .where(F.col("__n") <= max_gram_df)
                    .select("g", "mem")
                )
            else:
                buckets = _capped_drop_buckets(gl, "g", "id", max_gram_df)
        else:
            buckets = gl.groupBy("g").agg(
                F.array_sort(F.collect_list("id")).alias("mem")
            )
    buckets = buckets.where(F.size("mem") >= 2)
    pairs = bucket_pairs_from(
        buckets,
        "mem",
        lambda a, b: F.struct(a.alias("id_a"), b.alias("id_b")),
        max_bucket_size=max_bucket_size,
    )
    cand = (
        pairs.groupBy(
            F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("__ng"))
        .drop("__ng")
        .join(
            base.select(F.col("id").alias("id_a"), F.col("txt").alias("t_a")),
            on="id_a",
        )
        .join(
            base.select(F.col("id").alias("id_b"), F.col("txt").alias("t_b")),
            on="id_b",
        )
    )
    # banded DP: threshold makes the engine stop at max_dist (-1 beyond);
    # threshold must be >= 1, so max_dist=0 runs with band 1 and the
    # dist <= max_dist filter below restores exactness
    dist = F.levenshtein("t_a", "t_b", threshold=max(max_dist, 1))
    return (
        cand.withColumn("dist", dist.cast("int"))
        .where((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .select("id_a", "id_b", "dist")
    )


def gram_blocking_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_k: int = 3,
    max_gram_df: int | None = _CAP_UNSET,
    rel_gram_df: float | None = _CAP_UNSET,
) -> DataFrame:
    """Blocking-coverage audit for :func:`edit_distance_pairs` — run it
    BEFORE a fuzzy-match job to see whether the stop-gram cap leaves the
    corpus blockable at all.  Cap defaults/overrides are shared with
    :func:`edit_distance_pairs` via :func:`_resolve_gram_cap` (default
    ``max(256, ceil(0.05 · |records|))``) — the audit always audits
    exactly the config the matcher would run.

    The absolute ``max_gram_df`` cap is a fixed-work guarantee, but its
    recall loss scales with corpus density: on a template-dominated
    corpus (e.g. generated names differing only in digits) at 10× the
    tuned density, EVERY gram's document frequency can exceed the cap —
    observed on the sf1 battery, where the sf0.1-tuned default silently
    returned 0 of ~10M true customer-name pairs.  ``unblocked_records``
    makes that failure visible as data: a record with zero SURVIVING
    grams cannot appear in any candidate pair (under either the plain or
    the ``prefix_blocking`` scheme — prefixes are chosen among
    survivors), so ``unblocked_records ≈ records`` means "raise the cap,
    shrink ``gram_k``, or accept an empty result", BEFORE paying for the
    join.

    One row: ``records`` (non-NULL ``text_col``), ``short_records``
    (shorter than ``gram_k`` — no grams, never pair), ``blocked_records``
    (≥ 1 surviving gram), ``unblocked_records`` (every gram dropped by
    the cap), ``distinct_grams``, ``dropped_grams`` (df > cap),
    ``dropped_gram_frac``.  Gram/cap semantics are shared with
    :func:`edit_distance_pairs` bit-for-bit (per-record DISTINCT grams;
    df = record count per gram).  Cost: the gram stream twice (df
    aggregate + surviving semi-join, the fuzzy path's own shape) and an
    id-sized distinct — no arrays, no texts through any shuffle.
    """
    if gram_k < 1:
        raise ValueError(f"gram_k must be >= 1, got {gram_k}")
    base = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("txt")
    ).where(F.col(text_col).isNotNull())
    max_gram_df = _resolve_gram_cap(base, max_gram_df, rel_gram_df)
    grams = base.select(
        "id", F.explode(char_grams(F.col("txt"), gram_k)).alias("g")
    )
    dftbl = grams.groupBy("g").agg(F.count(F.lit(1)).alias("__df"))
    surviving = (
        dftbl.where(F.col("__df") <= max_gram_df)
        if max_gram_df is not None
        else dftbl
    )
    blocked = grams.join(
        surviving.select("g"), on="g", how="left_semi"
    ).select("id").distinct()
    r = base.agg(F.count(F.lit(1)).alias("records"))
    # ONE distinct aggregate over the gram stream: the gram count comes from
    # the df table, already grouped by gram.  Two count_distincts in one
    # aggregate expand every gram row per distinct column, in an order
    # Spark derives from per-call expression ids, so the plan's generated
    # classes differed (and recompiled) from call to call.
    gr = grams.agg(F.count_distinct(F.col("id")).alias("__gram_recs"))
    dr = dftbl.agg(
        F.count(F.col("g")).alias("distinct_grams"),
        (
            F.count(F.when(F.col("__df") > max_gram_df, 1))
            if max_gram_df is not None
            else F.lit(0).cast("long")
        ).alias("dropped_grams"),
    )
    bl = blocked.agg(F.count(F.lit(1)).alias("blocked_records"))
    return (
        r.crossJoin(gr).crossJoin(dr).crossJoin(bl).select(
            "records",
            (F.col("records") - F.col("__gram_recs")).alias("short_records"),
            "blocked_records",
            (F.col("__gram_recs") - F.col("blocked_records")).alias(
                "unblocked_records"
            ),
            "distinct_grams",
            "dropped_grams",
            F.when(F.col("distinct_grams") == 0, F.lit(0.0))
            .otherwise(
                F.col("dropped_grams").cast("double")
                / F.col("distinct_grams").cast("double")
            )
            .alias("dropped_gram_frac"),
        )
    )
