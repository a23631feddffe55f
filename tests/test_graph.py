"""PageRank (operators/graph.py): numpy power-iteration differential,
dangling mass conservation, edge semantics."""

import numpy as np
import pytest

from dask_groupby_spark.operators import pagerank


def _numpy_pagerank(edges, n, d=0.85, iters=10):
    deg = np.zeros(n)
    for s, _ in edges:
        deg[s] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = r[deg == 0].sum()
        new = np.full(n, (1.0 - d) / n) + d * dangling / n
        for s, t in edges:
            new[t] += d * r[s] / deg[s]
        r = new
    return r


def test_pagerank_vs_numpy(spark):
    rng = np.random.default_rng(41)
    n = 30
    edges = [(int(rng.integers(0, n)), int(rng.integers(0, n))) for _ in range(120)]
    # leave some nodes dangling: drop all out-edges of nodes 0-4
    edges = [(s, t) for (s, t) in edges if s >= 5]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["id"]: r["rank"] for r in pagerank(df, iters=10).collect()}
    # exact reference over the node set the operator sees (nodes present
    # in at least one edge), relabeled 0..m-1
    present = sorted({s for s, _ in edges} | {t for _, t in edges})
    idx = {v: i for i, v in enumerate(present)}
    want = _numpy_pagerank([(idx[s], idx[t]) for s, t in edges], len(present))
    assert set(got) == set(present)
    for v in present:
        assert got[v] == pytest.approx(want[idx[v]], rel=1e-9, abs=1e-12)


def test_pagerank_mass_conserved_and_sums_to_one(spark):
    edges = [(0, 1), (1, 2), (2, 0), (3, 0)]  # 3-cycle + a feeder
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    out = pagerank(df, iters=20).collect()
    assert sum(r["rank"] for r in out) == pytest.approx(1.0, abs=1e-12)
    got = {r["id"]: r["rank"] for r in out}
    assert got[0] > got[3]          # cycle member beats the feeder


def test_pagerank_star_authority(spark):
    # everyone links to node 0: it must dominate
    edges = [(i, 0) for i in range(1, 6)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["id"]: r["rank"] for r in pagerank(df, iters=15).collect()}
    assert got[0] == max(got.values())
    assert got[0] > 0.4


def test_pagerank_null_edges_dropped_and_validation(spark):
    df = spark.createDataFrame([(0, 1), (None, 2), (1, None)], "src bigint, dst bigint")
    out = pagerank(df, iters=3).collect()
    assert sorted(r["id"] for r in out) == [0, 1]
    with pytest.raises(ValueError):
        pagerank(df, damping=1.5)
    with pytest.raises(ValueError):
        pagerank(df, iters=0)


def test_personalized_pagerank_vs_numpy(spark):
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)]   # 4 dangles
    seeds = {0: 3.0, 2: 1.0}
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    pers = spark.createDataFrame(list(seeds.items()), "id bigint, w double")
    got = {r["id"]: r["rank"] for r in pagerank(df, iters=12, personalization=pers).collect()}

    n, d = 5, 0.85
    t = np.zeros(n)
    for k, w in seeds.items():
        t[k] = w
    t /= t.sum()
    deg = np.zeros(n)
    for s, _ in edges:
        deg[s] += 1
    r = t.copy()
    for _ in range(12):
        dangling = r[deg == 0].sum()
        new = (1 - d) * t + d * dangling * t
        for s, dd in edges:
            new[dd] += d * r[s] / deg[s]
        r = new
    for i in range(n):
        assert got[i] == pytest.approx(r[i], rel=1e-9, abs=1e-12)
    # mass conserved; non-seed, non-reachable-from-seed mass comes only via links
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)


def test_personalized_pagerank_zero_weights_raise(spark):
    df = spark.createDataFrame([(0, 1)], "src bigint, dst bigint")
    pers = spark.createDataFrame([(0, 0.0)], "id bigint, w double")
    with pytest.raises(ValueError):
        pagerank(df, personalization=pers)


def test_connected_components_general_api(spark):
    from dask_groupby_spark.operators import connected_components

    # two components: {0,1,2,3} (via chain) and {10,11}
    edges = [(0, 1), (1, 2), (2, 3), (10, 11)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10}


def test_connected_components_contraction_tiers_vs_union_find(spark):
    """duplicate_clusters runs a star-contraction pass before any
    label-propagation round when neither a row bound nor an edge count
    fits ``max_driver_edges``.  Its tiers — the one-task union-find (the
    list-built frame's row bound fits the default), contraction + driver
    union-find (row bound and edge count above ``max_driver_edges=4``,
    contracted count below it), and contraction + min-label loop
    (``max_driver_edges=None``) — must produce the exact min-label
    components of a reference union-find, for int AND string ids."""
    import random

    from dask_groupby_spark.operators.dedup import duplicate_clusters

    def ref_cc(edges):
        parent = {}

        def find(x):
            while parent[x] != x:
                x = parent[x]
            return x

        for a, b in edges:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        return sorted((v, find(v)) for v in parent)

    rng = random.Random(7)
    edges = []
    base = 0
    for s in [5, 3, 8, 2, 12]:  # chains of varied component sizes
        mem = [base + i for i in range(s)]
        edges += [(mem[i], mem[i + 1]) for i in range(s - 1)]
        base += s + 3
    # deep enough to force several 2-hop propagation rounds post-
    # contraction, short enough to keep the test fast
    edges += [(1000 + i, 1000 + i + 1) for i in range(10)]
    edges += [(rng.randint(0, 40), rng.randint(0, 40)) for _ in range(30)]
    edges += [(2000, 2000)]  # self loop

    ref = ref_cc(edges)
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    for mde in (2_000_000, None, 4):
        got = sorted(
            (r["id"], r["cluster_id"])
            for r in duplicate_clusters(df, max_driver_edges=mde).collect()
        )
        assert got == ref, f"max_driver_edges={mde}"

    # string ids through the contraction + driver tier (the int runs above
    # already cover the propagation loop; one string config keeps the test
    # inside the suite's time budget)
    s_edges = [("d%04d" % a, "d%04d" % b) for a, b in edges]
    s_ref = ref_cc(s_edges)
    s_df = spark.createDataFrame(s_edges, "id_a string, id_b string")
    got = sorted(
        (r["id"], r["cluster_id"])
        for r in duplicate_clusters(s_df, max_driver_edges=4).collect()
    )
    assert got == s_ref, "string ids, contraction + driver tier"


def test_hits_vs_numpy(spark):
    from dask_groupby_spark.operators import hits

    rng = np.random.default_rng(59)
    n = 20
    edges = list({(int(rng.integers(0, n)), int(rng.integers(0, n))) for _ in range(60)})
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["id"]: (r["hub"], r["authority"]) for r in hits(df, iters=8).collect()}

    present = sorted({s for s, _ in edges} | {t for _, t in edges})
    idx = {v: i for i, v in enumerate(present)}
    m = len(present)
    E = np.zeros((m, m))
    for s, t in edges:
        E[idx[s], idx[t]] = 1
    h = np.ones(m)
    a = np.ones(m)
    for _ in range(8):
        a = E.T @ h
        a /= np.linalg.norm(a) or 1.0
        h = E @ a
        h /= np.linalg.norm(h) or 1.0
    for v in present:
        assert got[v][0] == pytest.approx(h[idx[v]], rel=1e-9, abs=1e-12)
        assert got[v][1] == pytest.approx(a[idx[v]], rel=1e-9, abs=1e-12)


def test_hits_hub_vs_authority_separation(spark):
    from dask_groupby_spark.operators import hits

    # node 0 is a pure hub (links out to 1..4), nodes 1..4 pure authorities
    edges = [(0, i) for i in range(1, 5)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["id"]: r for r in hits(df, iters=5).collect()}
    assert got[0]["hub"] == pytest.approx(1.0)
    assert got[0]["authority"] == 0.0
    for i in range(1, 5):
        assert got[i]["hub"] == 0.0
        assert got[i]["authority"] == pytest.approx(0.5)


def test_personalized_pagerank_absent_seed_mass_not_leaked(spark):
    from dask_groupby_spark.operators import pagerank

    edges = [(0, 1), (1, 0)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    # seed 99 is not in the graph: its weight must NOT bleed teleport mass
    pers = spark.createDataFrame([(0, 1.0), (99, 9.0)], "id bigint, w double")
    out = pagerank(df, iters=15, personalization=pers).collect()
    assert sum(r["rank"] for r in out) == pytest.approx(1.0, abs=1e-12)

    # ALL seeds absent -> explicit error, not silent all-zero ranks
    bad = spark.createDataFrame([(99, 1.0)], "id bigint, w double")
    with pytest.raises(ValueError):
        pagerank(df, personalization=bad)


def test_personalized_pagerank_duplicate_seed_rows_aggregate(spark):
    from dask_groupby_spark.operators import pagerank

    edges = [(0, 1), (1, 0), (1, 2), (2, 1)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    dup = spark.createDataFrame([(0, 1.0), (0, 2.0)], "id bigint, w double")
    merged = spark.createDataFrame([(0, 3.0)], "id bigint, w double")
    a = {r["id"]: r["rank"] for r in pagerank(df, iters=10, personalization=dup).collect()}
    b = {r["id"]: r["rank"] for r in pagerank(df, iters=10, personalization=merged).collect()}
    assert len(a) == 3                      # node table NOT fanned out
    for k in a:
        assert a[k] == pytest.approx(b[k], rel=1e-12)


def test_weighted_pagerank_vs_numpy(spark):
    edges = [(0, 1, 3.0), (0, 2, 1.0), (1, 0, 1.0), (2, 0, 2.0), (2, 1, 2.0)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint, w double")
    got = {r["id"]: r["rank"] for r in pagerank(df, iters=12, weight="w").collect()}

    n, d = 3, 0.85
    wsum = np.zeros(n)
    for s, _, w in edges:
        wsum[s] += w
    r = np.full(n, 1.0 / n)
    for _ in range(12):
        new = np.full(n, (1.0 - d) / n)
        for s, t, w in edges:
            new[t] += d * r[s] * w / wsum[s]
        r = new
    for i in range(n):
        assert got[i] == pytest.approx(r[i], rel=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)
    # the 3x-weighted 0->1 edge must dominate 0->2
    assert got[1] > got[2]


def test_weighted_pagerank_nonpositive_weights_dropped(spark):
    df = spark.createDataFrame(
        [(0, 1, 1.0), (0, 2, 0.0), (0, 3, -1.0), (1, 0, 1.0)],
        "src bigint, dst bigint, w double",
    )
    out = pagerank(df, iters=5, weight="w").collect()
    ids = sorted(r["id"] for r in out)
    assert ids == [0, 1]      # zero/negative-weight edges (and their nodes) gone
    assert sum(r["rank"] for r in out) == pytest.approx(1.0, abs=1e-12)
