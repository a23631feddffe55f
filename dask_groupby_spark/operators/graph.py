"""Link-graph analytics for crawl curation — PageRank-style authority
scoring over an edge table (the quality prior used by web-corpus
pipelines to keep pages that the link graph vouches for; see also
:func:`~dask_groupby_spark.operators.dedup.duplicate_clusters`, the
connected-components sibling built on the same iterative-join pattern).

No flox counterpart (SURVEY.md §2.4) — Spark-native surface.  Iterative
by nature (not SQL-expressible as one query): each power-iteration step
is one co-partitioned join + one map-combined aggregate, with eager
``localCheckpoint`` lineage cuts so the plan does not grow with the
iteration count — the same hardening as ``kmeans_fit``/``bpe_train``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["connected_components", "hits", "pagerank"]


def _prep_edges(
    edges: DataFrame,
    src: str,
    dst: str,
    partitions: int | None,
    weight: str | None = None,
):
    """Shared edge cleanup for the iterative operators: canonical
    (src, dst[, __w]) columns, NULL endpoints (and non-positive weights)
    dropped, ONE repartition on src reused by every iteration, eager
    localCheckpoint; plus the distinct node-id table.
    Returns ``(e, nodes)``."""
    cols = [F.col(src).alias("src"), F.col(dst).alias("dst")]
    if weight is not None:
        cols.append(F.col(weight).cast("double").alias("__w"))
    e = edges.select(*cols).where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    if weight is not None:
        e = e.where(F.col("__w") > 0)
    e = e.repartition(partitions, "src") if partitions else e.repartition("src")
    e = e.localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    return e, nodes


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 10,
    partitions: int | None = None,
    personalization: DataFrame | None = None,
    weight: str | None = None,
) -> DataFrame:
    """PageRank over a directed edge table: returns ``(id, rank)`` for
    every node (ranks sum to 1).  Standard damped power iteration with
    correct dangling-node handling — the rank mass of nodes with no
    out-edges redistributes uniformly each step, so the total stays 1
    (dropping it, the common shortcut, deflates every score and the
    ranking of low-degree nodes).

    Per iteration: ranks ⋈ edges on ``src`` (both sides hash-partitioned
    on the node id — the edge side is repartitioned ONCE up front and
    the partitioning is reused every step) → per-edge contribution
    ``rank/out_degree`` → map-combined sum per ``dst``.  A node's state
    is one double; the shuffle carries |edges| contribution rows — the
    unavoidable volume for exact PageRank.  Every iteration ends in an
    eager ``localCheckpoint``: O(1) plan depth, no lineage blow-up, and
    the next step's join starts from materialized partitions.

    Duplicate edges act as parallel links (they weight the transition);
    pre-``distinct()`` if simple-graph semantics are wanted.  Self-loops
    count as ordinary edges.  NULL endpoints are dropped.

    ``personalization``: an ``(id, weight)`` DataFrame turns this into
    PERSONALIZED PageRank (TrustRank): teleportation and dangling mass
    flow to the seed set proportionally to ``weight`` instead of
    uniformly — scores become "authority as seen from the trusted
    seeds", the standard spam-demotion / seed-expansion prior for crawl
    curation.  Weights normalize internally; nodes absent from the seed
    table get teleport probability 0 (they score > 0 only via links).

    ``weight``: an edge-weight column makes the random walk follow each
    out-link with probability proportional to its weight (link counts,
    anchor-text frequency…) — rows with NULL or non-positive weight are
    dropped.  Unweighted is the ``weight=None`` special case (every
    edge weight 1).
    """
    if not 0 < damping < 1:
        raise ValueError("damping must be in (0, 1)")
    if iters < 1:
        raise ValueError("iters must be >= 1")
    e, nodes = _prep_edges(edges, src, dst, partitions, weight)
    wcol = F.col("__w") if weight is not None else F.lit(1.0)
    deg = e.groupBy("src").agg(F.sum(wcol).alias("__deg"))
    # node table with out-degree (NULL -> dangling), partitioned like edges
    base = nodes.join(deg, nodes["id"] == deg["src"], "left").select(
        "id", F.coalesce("__deg", F.lit(0)).alias("__deg")
    )
    if personalization is not None:
        pcols = personalization.columns
        # pre-aggregate duplicate seed ids (a concatenated seed list must
        # not fan the node table out through the join), and normalize
        # over seeds THAT EXIST IN THE GRAPH — a seed absent from this
        # snapshot's edges would otherwise leak its share of teleport
        # mass every iteration, deflating all ranks
        seeds = (
            personalization.select(
                F.col(pcols[0]).alias("id"),
                F.col(pcols[1]).cast("double").alias("__w"),
            )
            .where(F.col("__w") > 0)
            .groupBy("id")
            .agg(F.sum("__w").alias("__w"))
        )
        base = base.join(seeds, on="id", how="left").select(
            "id", "__deg", F.coalesce("__w", F.lit(0.0)).alias("__w")
        )
    else:
        base = base.withColumn("__w", F.lit(None).cast("double"))

    base = (base.repartition(partitions, "id") if partitions else base.repartition("id"))
    base = base.localCheckpoint(eager=True)
    n = base.count()
    if n == 0:
        return base.select("id", F.lit(0.0).alias("rank"))
    if personalization is not None:
        # normalize AFTER the checkpoint (r7 review): collecting the seed
        # total from the pre-checkpoint plan re-ran the nodes⋈deg⋈seeds
        # join a second time; on the checkpointed table it is one cheap
        # scalar aggregate, and __t stays a projection over the checkpoint
        tot = base.agg(F.sum("__w")).collect()[0][0]
        if not tot:
            raise ValueError(
                "no personalization seed with positive weight appears in the graph"
            )
        base = base.select(
            "id", "__deg", (F.col("__w") / F.lit(float(tot))).alias("__t")
        )
    else:
        base = base.select("id", "__deg", F.lit(1.0 / n).alias("__t"))

    d = float(damping)
    # dangling-mass jobs are per-ITERATION — skip them all when the graph
    # has no dangling node at all (one cheap existence probe on the
    # checkpointed node table; common after edge cleanup).  isEmpty, not
    # limit(1).count(): a codegen'd limit names its counter from a
    # JVM-global sequence, so that probe compiled new classes on every
    # call, and it ran one job more.
    has_dangling = not base.where(F.col("__deg") == 0).isEmpty()
    ranks = base.select("id", "__deg", "__t", F.col("__t").alias("rank"))
    for _ in range(iters):
        # mass parked on dangling nodes, redistributed over the teleport
        # distribution (one tiny scalar collect per iteration)
        dangling = (
            ranks.where(F.col("__deg") == 0).agg(F.sum("rank")).collect()[0][0]
            or 0.0
        ) if has_dangling else 0.0
        contribs = (
            ranks.where(F.col("__deg") > 0)
            .join(e, ranks["id"] == e["src"])
            .select(
                "dst",
                (F.col("rank") * wcol / F.col("__deg")).alias("__c"),
            )
            .groupBy("dst")
            .agg(F.sum("__c").alias("__in"))
        )
        ranks = (
            base.join(contribs, base["id"] == contribs["dst"], "left")
            .select(
                "id",
                "__deg",
                "__t",
                (
                    F.lit(1.0 - d) * F.col("__t")
                    + F.lit(d)
                    * (F.coalesce("__in", F.lit(0.0)) + F.lit(dangling) * F.col("__t"))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("id", "rank")


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    max_driver_edges: int | None = 2_000_000,
) -> DataFrame:
    """Connected components of an undirected graph: ``(id, component)``
    with each component labeled by its minimum member id — the general
    public face of the engine that
    :func:`~dask_groupby_spark.operators.dedup.duplicate_clusters` runs
    over near-dup candidate pairs.  ``max_driver_edges`` caps the
    symmetrized edges one union-find holds: when a driver-side metadata
    bound proves ``edges`` fits it, one lazy union-find runs in a single
    task; without a bound, a counted edge list that fits it is collected
    into a driver union-find; otherwise a star-contraction pass shrinks
    the graph first, then a driver union-find (contracted edges up to
    ``max_driver_edges``) or min-label propagation finishes it.  See its
    docstring for the scale analysis.

    Edge direction is ignored (the edge list is symmetrized).  Nodes
    with no edges are absent — they are their own singleton component
    by definition.
    """
    from .dedup import duplicate_clusters

    return duplicate_clusters(
        edges, id_a=src, id_b=dst, max_iter=max_iter,
        out_id="id", out_cluster="component",
        max_driver_edges=max_driver_edges,
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    partitions: int | None = None,
) -> DataFrame:
    """HITS hubs-and-authorities over a directed edge table: returns
    ``(id, hub, authority)`` — the complementary pair to
    :func:`pagerank` (a good HUB links to many good authorities; a good
    AUTHORITY is linked from many good hubs — catalog/index pages vs
    content pages, a distinction PageRank's single score folds away).

    Classic power iteration with per-step L2 normalization (Kleinberg
    1999): ``a ← Eᵀh``, ``h ← Ea``, each a co-partitioned join + a
    map-combined sum, normalized by a scalar collect (one double per
    step).  Same lineage hardening as :func:`pagerank`: edges
    repartition once, every step ends in an eager ``localCheckpoint``.
    Nodes with no in-edges get authority 0; no out-edges → hub 0.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    e, nodes = _prep_edges(edges, src, dst, partitions)
    nodes = (
        nodes.repartition(partitions, "id") if partitions else nodes.repartition("id")
    ).localCheckpoint(eager=True)

    state = nodes.select("id", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth"))
    for _ in range(iters):
        # authority update: sum of source hubs over in-edges
        a = (
            state.join(e, state["id"] == e["src"])
            .groupBy("dst")
            .agg(F.sum("hub").alias("__a"))
        )
        state = (
            nodes.join(a, nodes["id"] == a["dst"], "left")
            .select("id", F.coalesce("__a", F.lit(0.0)).alias("auth"))
            .localCheckpoint(eager=True)
        )
        norm = state.agg(F.sqrt(F.sum(F.col("auth") * F.col("auth")))).collect()[0][0]
        state = state.select("id", (F.col("auth") / F.lit(norm or 1.0)).alias("auth"))
        # hub update: sum of destination authorities over out-edges
        # (state already holds one row per node — no re-join to nodes)
        h = (
            state.join(e, state["id"] == e["dst"])
            .groupBy("src")
            .agg(F.sum("auth").alias("__h"))
        )
        state = (
            state.join(h, state["id"] == h["src"], "left")
            .select("id", "auth", F.coalesce("__h", F.lit(0.0)).alias("hub"))
            .localCheckpoint(eager=True)
        )
        hnorm = state.agg(F.sqrt(F.sum(F.col("hub") * F.col("hub")))).collect()[0][0]
        state = state.select(
            "id", (F.col("hub") / F.lit(hnorm or 1.0)).alias("hub"), "auth"
        )
    return state.select("id", "hub", F.col("auth").alias("authority"))
