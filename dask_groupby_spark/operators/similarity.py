"""Similarity search over embedding columns (``array<float>``).

- :func:`cosine_topk` — brute-force exact top-k: broadcast the (small) query
  set against the corpus; dot products via ``zip_with``+``aggregate`` (JVM
  higher-order functions, no Python).  At 100 TB the corpus side streams;
  only queries are broadcast — the canonical exact-scoring plan.
- :func:`lsh_bucketed_topk` — the scale path: random-hyperplane LSH buckets
  computed from deterministic md5-derived planes; candidates only join within
  matching buckets (probing multiple hash tables), then exact re-scoring.
- :func:`embedding_near_duplicates` — cosine ≥ threshold pairs via the same
  bucketing.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """THE per-query top-k tail shared by every ANN path (r7: was four
    copy-pasted blocks — one definition so the tie-break and the output
    contract cannot drift): rank by cosine desc, neighbor_id asc."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    Output: (query_id, neighbor_id, cosine), k rows per query, ordered by
    (cosine desc, neighbor_id asc) with deterministic tie-break.
    """
    # norms are computed ONCE per row map-side (before the join), not per
    # pair — same expression tree as cosine_similarity, so float bits are
    # unchanged, but the join-side work drops from 3 array folds to 1
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        _norm(F.col(vec_col).cast("array<double>")).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
        _norm(F.col(vec_col).cast("array<double>")).alias("cn"),
    )
    joined = c.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.where(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cosine"),
    )
    return _topk(scored, k)


def cosine_topk_blas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors — the Arrow/BLAS execution of
    :func:`cosine_topk` (same semantics, same output columns).

    Plan: the (small, by the same contract that lets :func:`cosine_topk`
    broadcast it) query matrix ships to executors inside the UDF closure;
    each corpus Arrow batch scores ALL queries with one normalized matmul,
    and a running per-query top-k is carried ACROSS the partition's
    batches (ordered by the output tie-break, cosine desc then id asc, so
    the partial set is an exact superset of the global answer) — each
    partition emits ONE k·|queries| candidate block.  The final window
    then ranks ≤ k·partitions candidates per query instead of |corpus|
    scored pairs — the shuffle shrinks from O(|corpus|·|queries|) to
    O(k·partitions·|queries|) rows (r7: was per-BATCH partials,
    ~100× more rows at default 10k-row Arrow batches).  float64 matmul
    accumulation differs from the JVM fold's strict left-to-right order
    by ~1 ulp — use :func:`cosine_topk` when bit-exact parity with the
    SQL oracle matters.

    Zero-norm vectors (cosine undefined) are EXCLUDED on both sides —
    a zero corpus vector never appears as a neighbor and a zero query
    emits no rows (the SQL path instead carries them as NULL cosines
    ranked last).  Ids may be any type — the output id columns keep the
    input's Spark type (r7 review: the former int64 hardcode crashed on
    string ids despite the parity claim).
    """
    import numpy as np
    import pandas as pd

    # query_id's Arrow type comes from the queries frame, neighbor_id's from
    # the CORPUS frame (its values do) — with exclude_self=False the two id
    # spaces may have different types (r7 review follow-up)
    id_type = dict(queries.dtypes)[id_col]
    nbr_type = dict(corpus.dtypes)[id_col]
    integral = id_type in ("tinyint", "smallint", "int", "bigint")
    # NULL vectors are unscorable, like zero-norm ones (list(None) would
    # TypeError below); an EMPTY query set must return an empty frame, not
    # crash numpy's axis-1 norm on a 0-d array (r9 review)
    qrows = queries.select(id_col, vec_col).where(
        F.col(vec_col).isNotNull()
    ).collect()
    if not qrows:
        return queries.sparkSession.createDataFrame(
            [],
            f"query_id {id_type}, neighbor_id {nbr_type}, "
            "cosine double, rank int",
        )
    q_ids = np.array(
        [r[0] for r in qrows], dtype="int64" if integral else object
    )
    Q = np.array([list(r[1]) for r in qrows], dtype="float64")
    qn_ = np.linalg.norm(Q, axis=1, keepdims=True)
    q_zero = (qn_ == 0.0).ravel()
    qn_[qn_ == 0.0] = 1.0  # avoid 0/0 NaN; masked to -inf below
    Qn = Q / qn_

    corpus_proj = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )

    nq = len(qrows)

    def score(batches):
        # running per-query top-k across ALL batches of the partition,
        # ordered by the OUTPUT tie-break (cosine desc, neighbor_id asc) so
        # dropping beyond-k candidates here can never change the final
        # window's answer — one k·|queries| block per partition
        best: list = [[] for _ in range(nq)]
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.array(pdf["cv"].tolist(), dtype="float64")
            ids = pdf["neighbor_id"].to_numpy()
            cn_ = np.linalg.norm(C, axis=1, keepdims=True)
            c_zero = (cn_ == 0.0).ravel()
            cn_[cn_ == 0.0] = 1.0
            Cn = C / cn_
            S = Cn @ Qn.T  # (batch, queries)
            # NaN would rank FIRST under Spark's desc ordering — mask
            # undefined cosines to -inf and drop them below
            S[c_zero, :] = -np.inf
            S[:, q_zero] = -np.inf
            if exclude_self:
                S[ids[:, None] == q_ids[None, :]] = -np.inf
            kk = min(k, S.shape[0])
            part = np.argpartition(-S, kk - 1, axis=0)[:kk]  # (kk, queries)
            for j in range(nq):
                rows = part[:, j]
                cand = best[j] + [
                    (float(S[r, j]), ids[r]) for r in rows if S[r, j] != -np.inf
                ]
                if len(cand) > len(best[j]):
                    cand.sort(key=lambda t: (-t[0], t[1]))
                    best[j] = cand[:k]
        out_q, out_n, out_c = [], [], []
        for j in range(nq):
            for cos, nid in best[j]:
                out_q.append(q_ids[j])
                out_n.append(nid)
                out_c.append(cos)
        if out_q:
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine": out_c}
            )

    partial = corpus_proj.mapInPandas(
        score,
        schema=f"query_id {id_type}, neighbor_id {nbr_type}, cosine double",
    )
    return _topk(partial, k)


def _hyperplane(dim: int, plane_id: int, seed: str = "lshplane") -> list[float]:
    """Deterministic pseudo-random ±1 hyperplane from md5 — no RNG state, so
    plans are reproducible across sessions and engines."""
    import hashlib

    out = []
    for d in range(dim):
        h = hashlib.md5(f"{seed}:{plane_id}:{d}".encode()).digest()[0]
        out.append(1.0 if h % 2 else -1.0)
    return out


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bucket id: bit i = sign(vec · plane_i)."""
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        proj = _dot(vec, F.array(*[F.lit(x) for x in p]))
        bucket = bucket + F.when(proj > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 6,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket,
    then exact cosine re-scoring.  ~2^n_planes× less scoring work; recall
    tunable via n_planes (fewer planes → bigger buckets → higher recall).
    ``exclude_self=False`` keeps same-id pairs — REQUIRED when query ids
    are unrelated to corpus ids (an accidental id collision would
    otherwise silently drop a legitimate neighbor; r7 review)."""
    planes = [_hyperplane(dim, i) for i in range(n_planes)]
    # coalesce → NON-NULLABLE bucket (r13, same reason as _score_candidates:
    # a nullable join key infers an IsNotNull Filter that re-evaluates the
    # n_planes interpreted projection folds per corpus row; lsh_bucket()
    # never returns null — the when/otherwise chain folds nulls to bit 0 —
    # so the fallback is dead code and values are unchanged)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
        _norm(F.col(vec_col).cast("array<double>")).alias("cn"),
        F.coalesce(
            lsh_bucket(F.col(vec_col).cast("array<double>"), planes), F.lit(0)
        ).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        _norm(F.col(vec_col).cast("array<double>")).alias("qn"),
        F.coalesce(
            lsh_bucket(F.col(vec_col).cast("array<double>"), planes), F.lit(0)
        ).alias("bucket"),
    )
    joined = c.join(F.broadcast(q), c["bucket"] == q["bucket"])
    if exclude_self:
        joined = joined.where(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cosine"),
    )
    return _topk(scored, k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    nprobe: int = 2,
    refine_iters: int = 0,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize the corpus into
    ``n_cells`` cells, probe the ``nprobe`` nearest cells per query, exact
    cosine re-scoring within probed cells only.

    The coarse quantizer is deterministically seeded from the ``n_cells``
    lowest-id corpus vectors and **collected to the driver** — an IVF coarse
    quantizer is always tiny (kilobytes) — then inlined as literal arrays, so
    cell assignment for both corpus and queries is a *map-only projection*:
    no shuffle and no window anywhere in the assignment. The only shuffles
    left in the plan are the candidate join on ``cell`` (broadcast when the
    query set is small) and the final per-query top-k, i.e. the plan scans
    the 100 TB corpus exactly once and scores only ~nprobe/n_cells of it.

    ``refine_iters > 0`` runs that many distributed Lloyd iterations before
    querying: assign (map-only, literals) → spherical centroid update
    (:func:`group_centroids`, O(dim) state per cell) → re-collect the tiny
    centroid table.  Each iteration is one extra pass over the corpus;
    balanced cells mean nprobe/n_cells is an honest selectivity estimate.

    Output: (query_id, neighbor_id, cosine, rank) — rank ≤ k per query.
    """
    cents = _ivf_centroids(
        corpus, id_col=id_col, vec_col=vec_col, n_cells=n_cells,
        refine_iters=refine_iters,
    )
    cent_arr = _centroid_literal(cents)

    # two-step projection: the norm column materializes once, then the cell
    # scores REFERENCE it (CollapseProject keeps non-cheap aliases used in
    # the upper projection un-inlined, plan-verified — the group_centroids
    # normalize path relies on the same property)
    cv = F.col(vec_col).cast("array<double>")
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        cv.alias("nv"),
        _norm(cv).alias("nn"),
    ).withColumn(
        "cell",
        # coalesce with a literal makes the column NON-NULLABLE (r13):
        # array_max(...)["cell"] types as nullable even though it never IS
        # null (non-empty literal centroid array, non-null cell ids), and a
        # nullable equi-join key makes Catalyst infer IsNotNull(cell) — a
        # Filter that re-evaluates the ENTIRE interpreted assignment
        # transform per corpus row below the projection (the ≤r11 shape;
        # r12's eqNullSafe suppressed it at the cost of compound
        # [coalesce(k,0), isnull(k)] hash keys).  Non-nullable key → no
        # inferred filter, single-key join; the fallback branch is dead
        # code, so values are bit-identical (plan-verified:
        # plans/r13/ann_ivf_after.txt has no transform in any Filter).
        F.coalesce(
            F.array_max(_cell_scores(cent_arr, F.col("nv"), F.col("nn")))["cell"],
            F.lit(0),
        ),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        cv.alias("qv"),
        _norm(cv).alias("qn"),
    ).withColumn(
        "cell",
        F.explode(
            F.transform(
                F.slice(
                    F.sort_array(
                        _cell_scores(cent_arr, F.col("qv"), F.col("qn")), asc=False
                    ),
                    1,
                    nprobe,
                ),
                lambda s: s["cell"],
            )
        ),
    )
    return _score_candidates(c, q, k, exclude_self)


def _ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    refine_iters: int = 0,
):
    """Coarse quantizer as a list of {cell, cv} dicts: deterministically
    seeded from the n_cells lowest-id vectors, optionally refined with
    distributed spherical Lloyd iterations.  Always KB-sized — the ONE
    justified driver collect in the ANN family."""
    cents = (
        corpus.select(
            F.col(id_col).alias("cell"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        )
        .orderBy("cell")
        .limit(n_cells)
        .collect()
    )
    for _ in range(refine_iters):
        cent_arr0 = _centroid_literal(cents)
        cv0 = F.col(vec_col).cast("array<double>")
        assigned = (
            corpus.select(cv0.alias("embedding"), _norm(cv0).alias("__vn"))
            .withColumn(
                "cell",
                F.array_max(
                    _cell_scores(cent_arr0, F.col("embedding"), F.col("__vn"))
                )["cell"],
            )
            .select("embedding", "cell")
        )
        new = group_centroids(
            assigned, "cell", vec_col="embedding", out_col="cv", normalize=True
        ).collect()
        # a cell can go empty under reassignment — keep its previous centroid
        prev = {int(r["cell"]): r["cv"] for r in cents}
        prev.update({int(r["cell"]): list(r["cv"]) for r in new})
        cents = [{"cell": c, "cv": v} for c, v in sorted(prev.items())]
    return cents


def _centroid_literal(cents) -> Column:
    # F.lit on the whole python list → one array literal per centroid (a
    # single JVM call), not dim× nested lit() calls.  Each centroid carries
    # its norm as a PRECOMPUTED literal (r12): the Python fold below runs
    # acc + x*x left-to-right over doubles — the exact association of the
    # JVM `_norm` HOF fold — so downstream cosines are bit-identical while
    # the per-row scoring no longer re-folds a constant array per cell.
    out = []
    for r in cents:
        vals = [float(x) for x in r["cv"]]
        acc = 0.0
        for x in vals:
            acc = acc + x * x
        out.append(
            F.struct(
                F.lit(int(r["cell"])).alias("cell"),
                F.lit(vals).alias("cv"),
                F.lit(math.sqrt(acc)).alias("cnorm"),
            )
        )
    return F.array(*out)


def _cell_scores(cent_arr: Column, v: Column, vnorm: Column) -> Column:
    # struct field order (cos, negcell, cell): array_max / sort_array
    # compare cos first, then negcell — ties break to the SMALLEST cell.
    # cos = dot/(vnorm·cnorm) with both norms HOISTED (r12): Spark does not
    # pull invariant subtrees out of HOF lambdas, so the old
    # cosine_similarity(v, c.cv) form re-folded _norm(v) once PER CELL per
    # row — n_cells interpreted dim-element passes that a single
    # already-computed column serves.  Same division association as
    # cosine_similarity → bit-identical scores (verified vs the oracle).
    return F.transform(
        cent_arr,
        lambda c: F.struct(
            (_dot(v, c["cv"]) / (vnorm * c["cnorm"])).alias("cos"),
            (-c["cell"]).alias("negcell"),
            c["cell"].alias("cell"),
        ),
    )


def _score_candidates(
    c: DataFrame, q: DataFrame, k: int, exclude_self: bool = True
) -> DataFrame:
    """Shared IVF tail: candidate join on cell (queries broadcast), exact
    cosine, per-query top-k.

    An equi-join on a NULLABLE key makes Catalyst infer
    ``IsNotNull(cell)`` onto both sides (InferFiltersFromConstraints),
    and on the corpus side that Filter re-evaluates the full interpreted
    cell-assignment transform once per row ON TOP of the projection's
    evaluation — HOFs are CodegenFallback, so no cross-operator
    subexpression elimination saves it (the ≤r11 plan shape).  r12's
    ``eqNullSafe`` keys did suppress the filter at runtime — Spark
    compiles ``<=>`` into compound ``[coalesce(k, 0), isnull(k)]`` hash
    keys with no not-null inference — but the r12-committed after-plan
    was stale (it still showed the old shape), and the compound key
    hashes two expressions per row.  r13 settles it upstream: every
    caller builds ``cell`` as a NON-NULLABLE column on both sides (the
    corpus side as ``coalesce(expr, lit(0))`` — the expr is never null,
    so values are unchanged; the query side's explode of a non-null
    array is non-nullable already; asserted in
    tests/test_operators.py), a
    non-nullable key generates no IsNotNull constraint at all, and the
    join is a single-key plain equality (plan-verified:
    plans/r13/ann_ivf_{before,after}.txt)."""
    joined = c.join(F.broadcast(q), c["cell"] == q["cell"])
    if exclude_self:
        joined = joined.where(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn"))).alias("cosine"),
    )
    return _topk(scored, k)


def ivf_index_write(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    refine_iters: int = 0,
) -> None:
    """Materialize an IVF index as CELL-PARTITIONED parquet: build the
    coarse quantizer once, assign cells map-only, and write

    - ``{path}/vectors/cell=<c>/…`` — (neighbor_id, nv, nn) with the cell as
      a physical partition directory, and
    - ``{path}/centroids`` — the KB-sized quantizer table.

    Query-time payoff (:func:`ivf_index_topk`): probing reads ONLY the
    probed cells' directories via partition pruning — at 1000 cells /
    nprobe=10, 99% of the corpus bytes are never opened.  The precomputed
    norm ``nn`` also drops a per-query recompute.  This is the Spark-native
    equivalent of a serving-side IVF index (same layout philosophy as
    `plans.bucket_table`: pay one write-time shuffle-by-layout, reuse it
    every query)."""
    cents = _ivf_centroids(
        corpus, id_col=id_col, vec_col=vec_col, n_cells=n_cells,
        refine_iters=refine_iters,
    )
    cent_arr = _centroid_literal(cents)
    cv = F.col(vec_col).cast("array<double>")
    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        cv.alias("nv"),
        _norm(cv).alias("nn"),
    ).withColumn(
        "cell",
        F.array_max(_cell_scores(cent_arr, F.col("nv"), F.col("nn")))["cell"],
    )
    assigned.write.partitionBy("cell").mode("overwrite").parquet(f"{path}/vectors")
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(int(r["cell"]), [float(x) for x in r["cv"]]) for r in cents],
        "cell int, cv array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 2,
    exclude_self: bool = True,
) -> DataFrame:
    """Query a persisted IVF index (:func:`ivf_index_write`): load the tiny
    centroid table, assign each query its ``nprobe`` cells map-only, and
    scan ONLY those cells (`cell IN (...)` reaches the scan as a
    PartitionFilter — directory-level pruning, asserted in tests).

    Results are identical to :func:`ivf_topk` with the same parameters
    (same quantizer seeding, same tie-breaks)."""
    cents = [
        {"cell": r["cell"], "cv": r["cv"]}
        for r in spark.read.parquet(f"{path}/centroids").collect()
    ]
    cents.sort(key=lambda r: r["cell"])
    cent_arr = _centroid_literal(cents)
    cv = F.col(vec_col).cast("array<double>")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        cv.alias("qv"),
        _norm(cv).alias("qn"),
    ).withColumn(
        "cell",
        F.explode(
            F.transform(
                F.slice(
                    F.sort_array(
                        _cell_scores(cent_arr, F.col("qv"), F.col("qn")), asc=False
                    ),
                    1,
                    nprobe,
                ),
                lambda s: s["cell"],
            )
        ),
    )
    # the probed-cell set is bounded by n_cells — a planner-side collect
    cells = sorted({r["cell"] for r in q.select("cell").distinct().collect()})
    # the pruning filter reads the partition column as stored (nullable,
    # like every parquet column); the join key is its non-nullable
    # coalesce, as _score_candidates requires of every caller
    idx = (
        spark.read.parquet(f"{path}/vectors")
        .where(F.col("cell").isin(cells))
        .withColumn("cell", F.coalesce(F.col("cell"), F.lit(0)))
    )
    return _score_candidates(idx, q, k, exclude_self)


def group_centroids(
    df: DataFrame,
    *by: str,
    vec_col: str = "embedding",
    out_col: str = "centroid",
    normalize: bool = False,
) -> DataFrame:
    """Per-group mean vector (class centroid / cluster update step).

    Scale-first plan: posexplode to (keys, dim, component) rows, hash-
    aggregate per (keys, dim) — partial map-side sums, so the shuffle moves
    one row per (group, dim), never the raw vectors — then re-assemble each
    centroid with ``array_agg`` sorted by dim.  State per group is O(dim),
    unlike a naive ``collect_list(vector)`` which is O(rows·dim).

    ``normalize=True`` L2-normalizes the centroid (the spherical-k-means
    update, appropriate for cosine geometry).
    """
    exploded = df.select(
        *by, F.posexplode(F.col(vec_col).cast("array<double>")).alias("__d", "__x")
    )
    per_dim = exploded.groupBy(*by, "__d").agg(F.avg("__x").alias("__m"))
    asm = per_dim.groupBy(*by).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("__d"), F.col("__m")))
        ).alias("__dm")
    )
    asm = asm.withColumn("__c", F.transform(F.col("__dm"), lambda s: s["__m"]))
    if not normalize:
        return asm.select(*by, F.col("__c").alias(out_col))
    # materialize the norm ONCE per centroid: Spark does not hoist
    # invariant subtrees out of HOF lambdas, so dividing by _norm inside
    # the transform would re-fold the whole array per element — O(dim²)
    # (the quantize_embeddings pitfall documented below)
    asm = asm.withColumn("__n", _norm(F.col("__c")))
    return asm.select(
        *by,
        F.transform(F.col("__c"), lambda x: x / F.col("__n")).alias(out_col),
    )


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine ≥ threshold) via LSH bucketing +
    exact verification within buckets.  Output: (id_a, id_b, cosine).

    ``max_bucket_size`` bounds in-bucket scoring on degenerate buckets (an
    embedding-space mode — e.g. a giant cluster of near-identical template
    pages — puts 10⁵⁺ vectors in one bucket and the self-join goes
    quadratic): members beyond the cap are scored against the first
    ``max_bucket_size`` bucket members (by id) only, so work is
    O(|bucket| · cap) and, dense near-dup clusters being mutually similar,
    transitive clustering still collapses them.  Identical to uncapped
    whenever no bucket exceeds the cap; ``None`` = uncapped.
    """
    from .dedup import capped_bucket_pairs

    planes = [_hyperplane(dim, i) for i in range(n_planes)]
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        _norm(F.col(vec_col).cast("array<double>")).alias("n"),
        lsh_bucket(F.col(vec_col).cast("array<double>"), planes).alias("bucket"),
    )
    pairs = (
        capped_bucket_pairs(base, ["bucket"], max_bucket_size)
        .select(
            F.col("a_id").alias("id_a"),
            F.col("b_id").alias("id_b"),
            (_dot(F.col("a_v"), F.col("b_v")) / (F.col("a_n") * F.col("b_n"))).alias(
                "cosine"
            ),
        )
        .where(F.col("cosine") >= F.lit(threshold))
    )
    return pairs


def lsh_bucket_stats(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    max_bucket_size: int | None = 10_000,
    target_occupancy: int | None = None,
) -> DataFrame:
    """Bucket-occupancy audit for the hyperplane-LSH family
    (:func:`embedding_near_duplicates` / :func:`semantic_deduplicate` /
    :func:`lsh_bucketed_topk`) — run it BEFORE a scoring job to see
    whether the current ``n_planes`` still holds bucket sizes at scale
    (SCALE.md: at FIXED ``n_planes`` occupancy grows linearly with the
    corpus and in-bucket scoring quadratically; members past
    ``max_bucket_size`` are scored against the anchor set only).  The
    embedding analog of :func:`~.dedup.gram_blocking_stats`, closing the
    same silent-recall-cap class the r10 fuzzy-cap cliff exposed: the
    truncation the cap applies becomes VISIBLE as data instead of a prose
    warning.

    Bucket assignment is bit-identical to the scorers (same
    :func:`_hyperplane` planes, same sign fold); truncation arithmetic is
    bit-identical to :func:`~.dedup.capped_bucket_pairs`' anchor-star
    scheme (a bucket of ``n`` members at cap ``c`` scores ``C(n,2)`` pairs
    when ``n <= c``, else ``c*n - c*(c+1)/2``; the ``n - c`` members
    ranked past the cap pair with anchors only).

    One row: ``records`` (non-NULL vectors), ``buckets`` (non-empty),
    ``max_bucket``, ``avg_bucket``, ``n_planes`` (echoed),
    ``over_cap_buckets``, ``truncated_members`` / ``truncated_member_frac``
    (members scored against anchors only), ``scored_pairs`` /
    ``total_pairs`` / ``scored_pair_frac`` (1.0 = the cap is currently
    free), and ``recommended_n_planes`` — the smallest p with
    ``2^p * target_occupancy >= records`` (integer-exact via bit length,
    no float log2), i.e. ``~log2(records / target_occupancy)`` planes to
    hold EXPECTED occupancy at the target under a uniform split.
    ``target_occupancy`` defaults to ``max_bucket_size`` (hold buckets at
    the cap so nothing truncates), else 1024.  Raising ``n_planes`` costs
    recall per plane (a USER decision — see SCALE.md), which is exactly
    why this audit reports instead of auto-tuning.

    Cost: one map-only bucket assignment + one map-combined count shuffle
    to a <= 2^n_planes-row table + a scalar fold — no pairs, no vectors
    through any shuffle.
    """
    if target_occupancy is None:
        target_occupancy = max_bucket_size if max_bucket_size else 1024
    if target_occupancy < 1:
        raise ValueError(f"target_occupancy must be >= 1, got {target_occupancy}")
    planes = [_hyperplane(dim, i) for i in range(n_planes)]
    v = F.col(vec_col).cast("array<double>")
    counts = (
        df.where(F.col(vec_col).isNotNull())
        .select(lsh_bucket(v, planes).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    n = F.col("n")
    total_p = F.expr("(n * (n - 1)) DIV 2")
    if max_bucket_size is None:
        over = F.lit(0).cast("long")
        trunc = F.lit(0).cast("long")
        scored_p = total_p
    else:
        cap = F.lit(max_bucket_size).cast("long")
        over = F.when(n > cap, F.lit(1)).otherwise(F.lit(0)).cast("long")
        trunc = F.when(n > cap, n - cap).otherwise(F.lit(0)).cast("long")
        scored_p = F.when(n <= cap, total_p).otherwise(
            cap * n - F.lit(max_bucket_size * (max_bucket_size + 1) // 2)
        )
    agg = counts.agg(
        F.coalesce(F.sum(n), F.lit(0)).cast("long").alias("records"),
        F.count(F.lit(1)).cast("long").alias("buckets"),
        F.coalesce(F.max(n), F.lit(0)).cast("long").alias("max_bucket"),
        F.coalesce(F.sum(over), F.lit(0)).cast("long").alias("over_cap_buckets"),
        F.coalesce(F.sum(trunc), F.lit(0)).cast("long").alias("truncated_members"),
        F.coalesce(F.sum(scored_p), F.lit(0)).cast("long").alias("scored_pairs"),
        F.coalesce(F.sum(total_p), F.lit(0)).cast("long").alias("total_pairs"),
    )
    # smallest p with 2^p * target >= records, as bit_length(m - 1) of the
    # integer m = ceil(records / target) — exact in BOTH engines (Spark
    # bin() / DuckDB bin()), unlike ceil(log2(...)) whose float rounding
    # could flip at power-of-two boundaries.
    m = F.expr(f"(records + {target_occupancy - 1}) DIV {target_occupancy}")
    return agg.select(
        "records",
        "buckets",
        "max_bucket",
        F.when(F.col("buckets") == 0, F.lit(0.0))
        .otherwise(F.col("records").cast("double") / F.col("buckets").cast("double"))
        .alias("avg_bucket"),
        F.lit(n_planes).cast("int").alias("n_planes"),
        "over_cap_buckets",
        "truncated_members",
        F.when(F.col("records") == 0, F.lit(0.0))
        .otherwise(
            F.col("truncated_members").cast("double")
            / F.col("records").cast("double")
        )
        .alias("truncated_member_frac"),
        "scored_pairs",
        "total_pairs",
        F.when(F.col("total_pairs") == 0, F.lit(1.0))
        .otherwise(
            F.col("scored_pairs").cast("double") / F.col("total_pairs").cast("double")
        )
        .alias("scored_pair_frac"),
        F.when(m <= 1, F.lit(0))
        .otherwise(F.length(F.bin(m - 1)))
        .cast("int")
        .alias("recommended_n_planes"),
    )


def semantic_deduplicate(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    max_iter: int = 20,
    max_bucket_size: int | None = 10_000,
    pca_k: int | None = None,
) -> DataFrame:
    """Embedding-space near-duplicate REMOVAL (the SemDeDup recipe, Abbas et
    al. 2023, composed from this module's primitives): bucket vectors by
    hyperplane LSH, verify cosine ≥ threshold exactly within buckets,
    connect transitive duplicate groups, keep each group's minimum id.

    Returns the surviving rows of ``df`` (all original columns) — the
    embedding analog of ``dedup.near_deduplicate``.  Per-corpus-row work is
    one map-side bucket assignment; pair scoring, clustering, and the
    keeper anti-join run on the LSH-filtered candidate subgraph only.
    ``max_bucket_size`` (default 10 000) bounds in-bucket scoring on
    degenerate buckets — see :func:`embedding_near_duplicates`; None =
    uncapped.

    ``pca_k`` enables the paper's preprocessing: bucket/score in a PCA
    subspace (:func:`embedding_pca` fit + map-only projection) instead of
    the raw space — cheaper in-bucket cosines at large dim and
    noise-robust similarity.  The keeper anti-join still returns the
    ORIGINAL rows; only the similarity space changes.
    """
    from .dedup import duplicate_clusters

    work, work_vec, work_dim = df, vec_col, dim
    if pca_k is not None:
        model = embedding_pca(df, k=pca_k, vec_col=vec_col)
        work = pca_project(df, model, vec_col=vec_col, out_col="__pca")
        work_vec, work_dim = "__pca", pca_k
    pairs = embedding_near_duplicates(
        work, threshold=threshold, id_col=id_col, vec_col=work_vec,
        dim=work_dim, n_planes=n_planes, max_bucket_size=max_bucket_size,
    )
    clusters = duplicate_clusters(pairs, max_iter=max_iter)
    losers = clusters.where(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# Embedding PCA: the dimensionality-reduction step of SemDeDup-style
# pipelines (Abbas et al. 2023 project embeddings before clustering)
# ---------------------------------------------------------------------------


class PCAModel:
    """Fitted PCA: ``mean`` (dim,), ``components`` (k, dim) rows sorted by
    descending eigenvalue with a deterministic sign convention, and
    ``explained_variance`` (k,).  KB-sized driver state, like the IVF
    centroid table."""

    def __init__(self, mean, components, explained_variance, n):
        self.mean = mean
        self.components = components
        self.explained_variance = explained_variance
        self.n = n


def embedding_pca(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    center: bool = True,
) -> PCAModel:
    """Fit a PCA on an embedding column at corpus scale.

    Plan: ``mapInPandas`` emits ONE partial second-moment row per Arrow
    batch — (n, Σx, flattened Σxxᵀ), i.e. dim + dim² doubles (~32 KB at
    dim=64) regardless of batch row count — so the driver collects
    O(partitions) KB-sized rows, never vectors.  The eigendecomposition
    runs on the driver over the dim×dim covariance (the same
    "tiny-quantizer on the driver, data never moves" budget as the IVF
    centroid build).  Signs are fixed so each component's
    largest-magnitude coordinate is positive — deterministic across runs
    and partitionings.
    """
    import numpy as np
    import pandas as pd

    src = df.select(F.col(vec_col).cast("array<double>").alias("v")).where(
        F.col(vec_col).isNotNull()
    )

    def partials(batches):
        # accumulate across ALL Arrow batches of the partition and emit ONE
        # row at the end (r7 review: yielding per batch made the collect
        # O(rows / arrow-batch-size) — at corpus scale that is terabytes of
        # 33 KB partial rows to the driver, not the O(partitions) KB budget
        # this function promises)
        n, s, g = 0, None, None
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["v"].tolist(), dtype="float64")
            n += X.shape[0]
            bs, bg = X.sum(axis=0), X.T @ X
            s = bs if s is None else s + bs
            g = bg if g is None else g + bg
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]}
            )

    rows = src.mapInPandas(
        partials, "n long, s array<double>, g array<double>"
    ).collect()
    if not rows:
        raise ValueError("embedding_pca: no vectors")
    import numpy as np

    n = sum(r["n"] for r in rows)
    s = np.sum([r["s"] for r in rows], axis=0)
    dim = s.shape[0]
    G = np.sum([r["g"] for r in rows], axis=0).reshape(dim, dim)
    mean = s / n
    if center:
        cov = (G - n * np.outer(mean, mean)) / max(n - 1, 1)
    else:
        cov = G / max(n - 1, 1)
        mean = np.zeros(dim)
    w, v = np.linalg.eigh(cov)  # ascending
    order = np.argsort(w)[::-1][:k]
    comps = v[:, order].T  # (k, dim)
    # deterministic sign: largest-|coordinate| of each component positive
    flip = np.sign(comps[np.arange(len(order)), np.abs(comps).argmax(axis=1)])
    flip[flip == 0] = 1.0
    comps = comps * flip[:, None]
    return PCAModel(mean, comps, w[order], n)


def pca_project(
    df: DataFrame,
    model: PCAModel,
    vec_col: str = "embedding",
    out_col: str = "pca",
    whiten: bool = False,
) -> DataFrame:
    """Project an embedding column onto a fitted :class:`PCAModel` —
    map-only (the k×dim component matrix ships in the Arrow UDF closure,
    same contract as the BLAS top-k query matrix).  ``whiten=True``
    divides each output coordinate by √eigenvalue."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    W = model.components.copy()
    mu = model.mean.copy()
    if whiten:
        W = W / np.sqrt(np.maximum(model.explained_variance, 1e-12))[:, None]

    dim = W.shape[1]

    def _proj(col):
        vals = col.tolist()
        # row-wise guards (r7 review): NULL or wrong-dimension rows
        # project to NULL instead of crashing the whole Arrow batch (or
        # worse, returning a length-mismatched empty Series)
        ok = [
            v is not None and len(v) == dim and all(x is not None for x in v)
            for v in vals
        ]
        if not any(ok):
            return pd.Series([None] * len(vals), dtype=object)
        X = np.array([v for v, o in zip(vals, ok) if o], dtype="float64")
        Y = (X - mu) @ W.T
        out, it = [], iter(list(Y))
        for o in ok:
            out.append(next(it) if o else None)
        return pd.Series(out, dtype=object)

    proj = pandas_udf(_proj, "array<double>")

    return df.withColumn(out_col, proj(F.col(vec_col).cast("array<double>")))


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "q_vec",
    scale_col: str = "q_scale",
    bits: int = 8,
) -> DataFrame:
    """Per-vector symmetric int quantization for embedding storage — the
    standard 4× (int8) shrink of an embedding lake before ANN serving:
    ``scale = max|x| / (2^(bits-1)-1)``, ``q = floor(x/scale + 0.5)``
    clipped into the signed range, stored as ``tinyint``/``smallint``
    arrays next to one float scale per vector.

    The rounding is written as an EXPLICIT ``floor(+0.5)`` (half toward
    +inf) rather than engine ``round()`` so every engine — and the DuckDB
    oracle — computes bit-identical codes.  All-zero vectors take scale 1
    (codes all zero).  Map-only projection, zero shuffle; recall loss at
    int8 is typically <1% for cosine retrieval, and
    :func:`dequantize_embeddings` reconstructs within ``scale/2`` per
    element (asserted in tests).
    """
    if bits < 2 or bits > 16:
        raise ValueError(f"bits must be in [2, 16] (got {bits})")
    qmax = (1 << (bits - 1)) - 1
    itype = "tinyint" if bits <= 8 else "smallint"
    vec = F.col(vec_col)
    absmax = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    scale = F.when(absmax > 0, absmax / F.lit(float(qmax))).otherwise(F.lit(1.0))

    # the lambda must reference the MATERIALIZED scale column, not the
    # absmax expression: Spark does not hoist invariant subtrees out of
    # higher-order-function lambdas (see text.py:_stopword_hits), so an
    # inline scale would recompute the full-array max per ELEMENT — O(d²)
    # per vector.  NULL/NaN elements propagate as NULL codes (least/
    # greatest SKIP nulls, so without the guard a missing value would
    # silently encode as +qmax).
    def code(x):
        d = x.cast("double")
        return F.when(
            d.isNotNull() & ~F.isnan(d),
            F.greatest(
                F.lit(-qmax),
                F.least(
                    F.lit(qmax),
                    F.floor(d / F.col(scale_col) + F.lit(0.5)),
                ),
            ),
        ).cast(itype)

    return df.withColumn(scale_col, scale).withColumn(
        q_col, F.transform(vec, code)
    )


def dequantize_embeddings(
    df: DataFrame,
    q_col: str = "q_vec",
    scale_col: str = "q_scale",
    out: str = "embedding",
) -> DataFrame:
    """Reconstruct float vectors from :func:`quantize_embeddings` output:
    ``x ≈ q · scale`` (error ≤ scale/2 per element).  Map-only."""
    return df.withColumn(
        out,
        F.transform(
            F.col(q_col),
            lambda q: (q.cast("double") * F.col(scale_col)).cast("float"),
        ),
    )


def kmeans_fit(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "list[dict]":
    """Spherical k-means centroids over an embedding column — the public
    face of the IVF coarse-quantizer fit, exposed because corpus
    clustering is a curation primitive in its own right (cluster → per-
    cluster `mixture_sample` is the standard topic-balancing pattern, and
    SemDeDup's original formulation clusters first).

    Deterministic: seeds = the ``k`` lowest-id vectors; each Lloyd
    iteration is one corpus pass — map-only assignment against the
    literal-inlined centroid table, O(dim)-state spherical centroid
    update (:func:`group_centroids`), re-collect of the KB-sized table
    (the one justified driver collect in this family; empty cells keep
    their previous centroid).  Returns ``[{cell, cv}, …]`` for
    :func:`kmeans_assign` or persistence.
    """
    return _ivf_centroids(
        corpus, id_col=id_col, vec_col=vec_col, n_cells=k, refine_iters=iters
    )


def kmeans_assign(
    df: DataFrame,
    centroids: "list[dict]",
    vec_col: str = "embedding",
    out: str = "cluster",
) -> DataFrame:
    """Nearest-centroid assignment (cosine, ties → smallest cell id) as a
    MAP-ONLY projection: the centroid table from :func:`kmeans_fit` is
    inlined as literals, so assigning 100 TB of embeddings is one scan
    with zero shuffle."""
    cent_arr = _centroid_literal(centroids)
    cv = F.col(vec_col).cast("array<double>")
    # collision-checked temp name (r13 ADVICE): a fixed "__vn" silently
    # replaced (and then dropped) a user column of that name, and out="__vn"
    # lost the output column entirely
    vn = "__vn"
    while vn in df.columns or vn == out:
        vn += "_"
    return (
        df.withColumn(vn, _norm(cv))
        .withColumn(out, F.array_max(_cell_scores(cent_arr, cv, F.col(vn)))["cell"])
        .drop(vn)
    )


def ann_recall(
    approx: DataFrame,
    exact: DataFrame,
    *,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Retrieval-quality evaluation of an approximate top-k table against
    the exact one — the in-engine gate for tuning ``ivf_topk``'s
    nprobe/n_cells or ``lsh_bucketed_topk``'s planes: per query,
    recall@k (= |approx ∩ exact| / |exact|) and the reciprocal rank of
    the TRUE nearest neighbor (exact rank 1) inside the approximate list
    (0.0 when missed).  Mean them downstream for corpus-level
    recall/MRR.

    Both inputs are k-rows-per-query rank tables (the shared
    (query_id, neighbor_id, rank) contract of ``cosine_topk`` /
    ``ivf_topk`` / ``lsh_bucketed_topk`` and the persisted-index
    variants), so the joins here are k·|queries|-sized — evaluation
    never touches the corpus.

    Output: ``query_col``, ``n_exact``, ``n_hit`` (BIGINT), ``recall``,
    ``rr`` (DOUBLE).
    """
    a = approx.select(
        F.col(query_col).alias("__q"),
        F.col(neighbor_col).alias("__n"),
        F.col(rank_col).cast("bigint").alias("__ar"),
    )
    e = exact.select(
        F.col(query_col).alias("__q"),
        F.col(neighbor_col).alias("__n"),
        F.col(rank_col).cast("bigint").alias("__er"),
    )
    j = e.join(a, on=["__q", "__n"], how="left")
    per_q = j.groupBy("__q").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("__ar").alias("n_hit"),
        # reciprocal rank of the exact best neighbor in the approx list
        F.max(
            F.when(F.col("__er") == 1, F.coalesce(1.0 / F.col("__ar"), F.lit(0.0)))
        ).alias("rr"),
    )
    return per_q.select(
        F.col("__q").alias(query_col),
        "n_exact",
        "n_hit",
        (F.col("n_hit") / F.col("n_exact")).cast("double").alias("recall"),
        F.coalesce(F.col("rr"), F.lit(0.0)).cast("double").alias("rr"),
    )
