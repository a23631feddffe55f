"""End-to-end training-data curation: the composition the individual
operators exist for.  One declarative lineage — quality gate → exact dedup
→ per-language balanced sampling — that Catalyst collapses into a handful
of stages; nothing is materialized between steps.

Plan shape at 100 TB: the quality features and digest are map-side
projections fused into the scan; dedup is one shuffle on the digest
(keeping the minimum id per content); sampling is one shuffle on the
language key.  Two shuffles total for the whole pipeline, each carrying
only surviving rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _hash_domain, _hasher, _shingle_rows
from .text import add_text_features


def curate_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    min_tokens: int = 3,
    max_punct_ratio: float = 0.3,
    per_lang: int | None = None,
    seed: str = "curate",
    hasher: str = "fast",
) -> DataFrame:
    """Curation pipeline: (1) quality gate on token count and punctuation
    ratio, (2) exact dedup keeping the smallest id per distinct text,
    (3) optional per-language balanced downsampling to ``per_lang`` docs
    (seeded hash order — deterministic and engine-reproducible with
    ``hasher="portable"``).

    Returns the surviving rows of ``df`` plus the computed quality columns.
    """
    feats = add_text_features(df, text_col=text_col)
    gated = feats.where(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("punct_ratio") <= max_punct_ratio)
    )
    # exact dedup: keep the minimum id per content digest
    w_dup = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col).asc())
    deduped = (
        gated.withColumn("__dup_rn", F.row_number().over(w_dup))
        .where(F.col("__dup_rn") == 1)
        .drop("__dup_rn")
    )
    if per_lang is None:
        return deduped
    h = _hasher(hasher)(F.col(id_col).cast("string"), seed)
    w_s = Window.partitionBy(lang_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        deduped.withColumn("__s_rn", F.row_number().over(w_s))
        .where(F.col("__s_rn") <= per_lang)
        .drop("__s_rn")
    )


def train_test_split(
    df: DataFrame,
    test_frac: float,
    id_col: str = "doc_id",
    seed: str = "split",
    hasher: str = "fast",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic stratified-by-nothing train/test assignment: each row
    lands in 'test' iff a seeded hash of its id falls below ``test_frac``
    of the hash domain.  Pure map-side projection — no shuffle, no state,
    reproducible across runs, engines (``hasher="portable"``) and data
    re-partitioning, and stable under corpus growth (existing rows never
    flip when new rows arrive — the property random-split lacks).
    """
    if not (0.0 <= test_frac <= 1.0):
        raise ValueError("test_frac must be in [0, 1]")
    if out_col in df.columns:
        raise ValueError(
            f"out_col={out_col!r} collides with an existing column — "
            "rename it first"
        )
    h = _hasher(hasher)(F.col(id_col).cast("string"), seed)
    dom = F.lit(int(test_frac * _hash_domain(hasher)))
    return df.withColumn(
        out_col, F.when(h < dom, F.lit("test")).otherwise(F.lit("train"))
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    test_frac: float,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    seed: str = "split",
    hasher: str = "fast",
    out_col: str = "split",
) -> DataFrame:
    """Train/test split where near-duplicate CLUSTERS are atomic: every
    member of a connected component in the candidate-pair graph
    (LSH/Jaccard/embedding near-dup output) hashes on its CLUSTER label
    instead of its own id, so a training document can never have a
    near-duplicate in test — the intra-corpus leak mode that n-gram
    benchmark decontamination cannot catch (the "leak" is a paraphrase
    of another *training-corpus* doc, not of an eval set).

    Composition: :func:`~dask_groupby_spark.operators.dedup.duplicate_clusters`
    (min-label connected components over the pair list) → split key =
    ``coalesce(cluster_id, id)`` (singletons are their own cluster) →
    the exact seeded-hash threshold rule of :func:`train_test_split`
    (reused verbatim, so the split is deterministic, engine-portable
    with ``hasher="portable"``, and growth-stable: existing clusters
    never flip when new docs arrive).

    Output: ``df``'s columns + ``cluster_id`` (NULL for singletons) +
    ``out_col``.  Scale: the cluster table holds only PAIRED docs
    (|clusters| ≪ |corpus| — the LSH filter's point), re-entering by an
    id-equi join (broadcast when small, co-partitioned otherwise); the
    split itself stays a map-side projection.
    """
    from .dedup import duplicate_clusters

    if "cluster_id" in df.columns:
        raise ValueError(
            "df already has a 'cluster_id' column — rename it before "
            "leakage_safe_split (the output claims that name)"
        )
    clusters = duplicate_clusters(pairs, id_a, id_b).withColumnRenamed(
        "id", id_col
    )
    joined = df.join(clusters, on=id_col, how="left")
    with_key = joined.withColumn(
        "__split_key", F.coalesce(F.col("cluster_id"), F.col(id_col))
    )
    out = train_test_split(
        with_key, test_frac, id_col="__split_key", seed=seed,
        hasher=hasher, out_col=out_col,
    )
    return out.drop("__split_key")


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    k: int = 8,
    min_overlaps: int = 1,
    mark_only: bool = False,
) -> DataFrame:
    """Benchmark decontamination: drop (or mark) training documents sharing
    ≥ ``min_overlaps`` distinct word ``k``-grams with any benchmark document
    — the standard n-gram-overlap eval-leak filter for LLM training sets.

    Plan shape at 100 TB: both sides explode to distinct (id, shingle) rows
    map-side; the benchmark side is tiny (eval sets are ~1e4 docs) so its
    distinct shingle set BROADCASTS — the corpus is scanned once, no
    shuffle of corpus text at all in the mark phase; the only aggregation
    is the per-doc overlap count on matched rows (a shuffle of matches,
    which decontamination assumes are rare).

    ``mark_only=True`` returns every row with ``n_contaminated_ngrams``
    (audit mode); default drops contaminated docs.
    """
    corpus_sh = _shingle_rows(df, id_col, text_col, k)  # (id, sh)
    bench_sh = (
        _shingle_rows(benchmark, bench_text_col, bench_text_col, k)
        .select("sh")
        .distinct()
    )
    hits = (
        corpus_sh.join(F.broadcast(bench_sh), on="sh")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_ngrams"))
        .where(F.col("n_contaminated_ngrams") >= min_overlaps)
        .withColumnRenamed("id", id_col)
    )
    if mark_only:
        return df.join(hits, on=id_col, how="left").withColumn(
            "n_contaminated_ngrams",
            F.coalesce(F.col("n_contaminated_ngrams"), F.lit(0)),
        )
    return df.join(hits.select(id_col), on=id_col, how="left_anti")


# --------------------------------------------------------------------------
# Bloom-filter decontamination: the scale path for blocklists too large to
# broadcast as raw shingle strings.  The filter is an m-bit array stored as
# m/64 (word_idx, bits) rows — its size is FIXED by m, independent of the
# blocklist's string volume, so it broadcasts at any blocklist size.


def _bloom_probe(col, i: int, m_bits: int, hasher: str):
    """i-th probe position via double hashing h1 + i*h2 (classic Kirsch-
    Mitzenmacher construction: 2 base hashes serve any k).

    Deliberately NOT shared with ``joins.bloom_bits_table``: that filter
    pays k independent seeded hashes for a lower adversarial-correlation
    FP profile on join keys, while this one serves high-volume shingle
    decontamination where the 2-hash KM construction costs 2 hashes per
    element at any k.  Both bit layouts are pinned by their own contract
    oracles — keep the math with its oracle."""
    from .dedup import _hasher

    h = _hasher(hasher)
    h1 = h(col, "bloom1") % F.lit(m_bits)
    h2 = h(col, "bloom2") % F.lit(m_bits - 1) + F.lit(1)  # nonzero stride
    return (h1 + F.lit(i) * h2) % F.lit(m_bits)


def bloom_build(
    df: DataFrame,
    col: str,
    m_bits: int = 1 << 22,
    n_hashes: int = 5,
    hasher: str = "fast",
) -> DataFrame:
    """Distributed Bloom filter over ``df[col]``: returns (word_idx, bits)
    rows — at most m/64 of them, regardless of input size.  One shuffle on
    word_idx (bit_or is algebraic → map-side combine)."""
    probes = F.array(*[_bloom_probe(F.col(col), i, m_bits, hasher) for i in range(n_hashes)])
    p = df.select(F.explode(probes).alias("p"))
    words = p.select(
        F.shiftright("p", 6).alias("word_idx"),
        # the Python shiftleft wrapper only takes a literal bit count —
        # SQL-expr form accepts a column
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias("m"),
    )
    return words.groupBy("word_idx").agg(F.bit_or("m").alias("bits"))


def decontaminate_bloom(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    k: int = 8,
    min_overlaps: int = 1,
    m_bits: int = 1 << 22,
    n_hashes: int = 5,
    hasher: str = "fast",
    mark_only: bool = False,
) -> DataFrame:
    """:func:`decontaminate` with the benchmark side summarized into a Bloom
    filter instead of broadcast as raw shingles.

    When to use which: plain ``decontaminate`` broadcasts the benchmark's
    distinct shingle STRINGS — right up to ~1e6 shingles.  Beyond that
    (giant blocklists, aggregated eval suites, copyright corpora) the raw
    broadcast outgrows the driver; here the broadcast is the m-bit filter
    (m/64 longs — 512 KiB at m=2²², FIXED regardless of blocklist size).

    Plan: filter build = one bounded shuffle on word_idx; membership = k
    successive BROADCAST joins against the (word_idx, bits) table — one per
    probe, each a map-side hash lookup, no row explosion (r7: the earlier
    explode-k-probe-rows → join → regroup paid an Exchange over k× the
    shingle rows just to AND the probe bits back together); then ONE
    narrow shuffle — the per-doc overlap count over matching shingles
    only.  The corpus text never shuffles.  The k lookups broadcast the
    same filter subtree, so it is built once (the other k−1 read a
    ``ReusedExchange``); nothing is persisted.

    Bloom false positives can only OVER-drop (a clean doc removed), never
    leak contamination; at the default m=2²², k=5 the FP rate at 1e5
    blocklist shingles is ~1e-13 per probe.  False-positive budget is the
    price of the bounded broadcast — audit with ``mark_only=True``.
    """
    from .dedup import _shingle_rows

    bench_sh = (
        _shingle_rows(benchmark, bench_text_col, bench_text_col, k)
        .select("sh").distinct()
    )
    bloom = bloom_build(bench_sh, "sh", m_bits=m_bits, n_hashes=n_hashes, hasher=hasher)

    corpus_sh = _shingle_rows(df, id_col, text_col, k)
    # k successive broadcast lookups, AND-ed map-side — rows stay one per
    # (doc, distinct shingle); `sh` rows are already per-doc distinct
    # (array_distinct before the explode), so the final count is the
    # number of distinct contaminated shingles per doc, as before
    out = corpus_sh
    ok = None
    for i in range(n_hashes):
        p = _bloom_probe(F.col("sh"), i, m_bits, hasher)
        out = out.withColumn(f"__w{i}", F.shiftright(p, 6)).withColumn(
            f"__m{i}",
            F.call_function(
                "shiftleft",
                F.lit(1).cast("bigint"),
                F.pmod(p, F.lit(64)).cast("int"),
            ),
        )
        bt = F.broadcast(
            bloom.select(
                F.col("word_idx").alias(f"__w{i}"), F.col("bits").alias(f"__b{i}")
            )
        )
        out = out.join(bt, on=f"__w{i}", how="left")
        bit_ok = F.coalesce(
            F.col(f"__b{i}").bitwiseAND(F.col(f"__m{i}")) == F.col(f"__m{i}"),
            F.lit(False),
        )
        ok = bit_ok if ok is None else ok & bit_ok
    hits = (
        out.where(ok)
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_ngrams"))
        .where(F.col("n_contaminated_ngrams") >= min_overlaps)
        .withColumnRenamed("id", id_col)
    )
    if mark_only:
        return df.join(hits, on=id_col, how="left").withColumn(
            "n_contaminated_ngrams",
            F.coalesce(F.col("n_contaminated_ngrams"), F.lit(0)),
        )
    return df.join(hits.select(id_col), on=id_col, how="left_anti")


def mixture_sample(
    df: DataFrame,
    rates: dict,
    strata_col: str = "source",
    default_rate: float = 1.0,
    id_col: str = "doc_id",
    seed: str = "mixture",
    hasher: str = "fast",
    copy_col: str = "copy_id",
) -> DataFrame:
    """Deterministic mixture re-weighting: resample each stratum (domain /
    source / language) at its own rate — the "2 epochs of Wikipedia, 0.3 of
    Common Crawl" step that turns a raw corpus into a training mixture.

    A rate ``r`` emits ``floor(r)`` guaranteed copies of every row plus one
    more iff a seeded hash of the row id falls below ``frac(r)`` of the hash
    domain — so r<1 downsamples, r>1 upsamples (``copy_col`` numbers the
    copies for downstream shuffling/packing), r=0 drops the stratum.  Like
    :func:`train_test_split` this is a pure map-side projection: no shuffle,
    no RNG state, reproducible under re-partitioning, and growth-stable
    (existing rows never flip when the corpus grows).
    """
    for v in rates.values():
        if v < 0:
            raise ValueError("rates must be >= 0")
    if copy_col in df.columns:
        raise ValueError(
            f"copy_col={copy_col!r} collides with an existing column — "
            "rename it first (e.g. a prior mixture_sample pass)"
        )
    dom = _hash_domain(hasher)
    h = _hasher(hasher)(F.col(id_col).cast("string"), seed)
    rate = F.lit(float(default_rate))
    for k, v in rates.items():
        rate = F.when(F.col(strata_col) == k, F.lit(float(v))).otherwise(rate)
    base = F.floor(rate).cast("long")
    extra = (h < (rate - F.floor(rate)) * F.lit(dom)).cast("long")
    n = (base + extra).alias("__n_copies")
    out = df.withColumn("__n_copies", n).where(F.col("__n_copies") >= 1)
    return out.withColumn(
        copy_col, F.explode(F.sequence(F.lit(1).cast("long"), F.col("__n_copies")))
    ).drop("__n_copies")


def pack_sequences(
    df: DataFrame,
    *by: str,
    size_col: str,
    order_col: str,
    capacity: int,
    bin_col: str = "bin_id",
    tiebreak: str | None = None,
) -> DataFrame:
    """Greedy sequential bin packing: within each group, walk rows in
    ``order_col`` order and start a new bin whenever adding the row would
    push the running total past ``capacity`` — the sequence-packing step
    that assembles documents into fixed-token-budget training examples.
    A row larger than ``capacity`` gets a bin of its own.  Bins are
    numbered 0.. per group.

    If ``order_col`` can contain DUPLICATES within a group, pass
    ``tiebreak=`` (a unique column): tied rows otherwise keep their
    shuffle-arrival order, so which of two tied docs overflows into the
    next bin flips between runs/retries (same convention as
    ``time_weighted_mean``).

    The running-total-with-reset is a linear recurrence — same class as
    EWMA (udaf.py): not expressible as a Spark window, so each group runs
    through one Arrow ``applyInPandas`` pass.  At scale, groups (source
    shards) partition the work; packing never needs to cross groups, so
    this is one shuffle on the group keys and O(group) sequential work —
    the same contract as the reference's blockwise-only reductions.
    """
    import pandas as pd

    if capacity <= 0:
        raise ValueError("capacity must be positive")
    from pyspark.sql import types as T

    # copy — StructType.add would mutate df's own schema object in place
    out_schema = T.StructType(df.schema.fields + [T.StructField(bin_col, T.LongType())])

    sort_cols = [order_col] + ([tiebreak] if tiebreak else [])

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
        sizes = pdf[size_col].to_numpy()
        bins = [0] * len(sizes)
        b, acc = 0, 0
        for i, s in enumerate(sizes):
            s = int(s)
            if acc > 0 and acc + s > capacity:
                b += 1
                acc = 0
            acc += s
            bins[i] = b
        pdf[bin_col] = pd.Series(bins, dtype="int64")
        return pdf

    return df.groupBy(*by).applyInPandas(pack, schema=out_schema)


#: Redaction patterns restricted to the RE2 ∩ Java-regex common subset
#: (no lookarounds, no backrefs) so the DuckDB oracle evaluates the
#: IDENTICAL pattern — same discipline as text.BPE_PRETOKEN_RE.
PII_PATTERNS: "dict[str, str]" = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\+?\d[\d\- ]{7,}\d",
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    patterns: "dict[str, str] | None" = None,
    out: str | None = None,
    counts: bool = True,
) -> DataFrame:
    """Regex PII redaction — the standard pre-release scrub (emails, IPv4
    addresses, phone-like digit runs by default) every public-corpus
    pipeline runs before training.  Each match is replaced by a
    ``<KIND>`` sentinel; with ``counts=True`` a ``{kind}_n`` column
    records how many matches each document had (counted on the ORIGINAL
    text, so earlier replacements can't mask later counters).

    Patterns apply in dict order — order matters when they overlap (the
    default email pattern must run before phone, or the digits inside an
    address would be half-eaten).  Replacement sentinels contain no
    word characters that later defaults re-match.

    Plan: a chain of ``regexp_replace``/``regexp_count`` projections —
    map-only, zero shuffle, no UDF; scrubbing is free at any scale.
    """
    pats = PII_PATTERNS if patterns is None else patterns
    out = out or text_col
    if out != text_col and out in df.columns:
        raise ValueError(
            f"out={out!r} collides with an existing column — the result "
            "would carry two columns of that name"
        )
    if counts:
        n_clash = [f"{k}_n" for k in pats if f"{k}_n" in df.columns]
        if n_clash:
            raise ValueError(
                f"counts column(s) {n_clash} collide with existing columns "
                "— rename them first (e.g. a prior redact_pii pass)"
            )
    red = F.col(text_col)
    for kind, pat in pats.items():
        red = F.regexp_replace(red, F.lit(pat), F.lit(f"<{kind.upper()}>"))
    cols = [c for c in df.columns if c != text_col or out != text_col]
    proj = df.select(
        *cols,
        *(
            [
                F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"{kind}_n")
                for kind, pat in pats.items()
            ]
            if counts
            else []
        ),
        red.alias(out),
    )
    return proj


def shuffle_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: str = "shuffle",
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic GLOBAL shuffle of row order — the final step before
    training export (SGD wants examples decorrelated from crawl/source
    order; a corpus written in domain order trains measurably worse).

    Rows order by a seeded hash of their id: reproducible across runs
    and cluster sizes (the permutation is a pure function of
    ``(id, seed)``), re-shuffleable by changing ``seed`` per epoch.
    Implementation is the scale-correct one: ``repartitionByRange`` on
    the hash (range sampling balances output files even if ids cluster)
    + in-partition sort — one Exchange, no global total order
    materialized on any single node, no RNG state.  Feed straight to
    ``save_table`` (no extra sort_by) — downstream sequential readers
    then see hash order, i.e. shuffled.
    """
    from .dedup import fast_hash

    h = fast_hash(F.col(id_col).cast("string"), seed=seed)
    out = df.withColumn("__shuf", h)
    out = (
        out.repartitionByRange(partitions, "__shuf")
        if partitions
        else out.repartitionByRange("__shuf")
    )
    return out.sortWithinPartitions("__shuf").drop("__shuf")
