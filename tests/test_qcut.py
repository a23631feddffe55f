"""quantile_bins (pd.qcut parity): pandas differential global + per-group,
edge-equality convention, NULL/NaN passthrough, tie behavior."""

import random

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dask_groupby_spark import quantile_bins


@pytest.fixture(scope="module")
def tie_free():
    rng = random.Random(80811)
    vals = rng.sample(range(10_000_000), 700)
    return [float(x) + rng.random() * 0.5 for x in vals]


def _assert_pandas_parity(got, xs, exp, q):
    """Exact parity except the documented class: a value EXACTLY equal to
    a pandas edge may bin one lower here (numpy's (i/q)*(n-1) position
    rounding vs the engine's integer-first positions — see
    binning.quantile_bins).  Off-rows must sit on an edge and differ by
    exactly one bin."""
    edges = set(np.quantile(xs, [i / q for i in range(1, q)], method="linear"))
    for i, x in enumerate(xs):
        e = int(exp[i])
        if got[i] != e:
            assert x in edges and got[i] == e - 1, (i, x, got[i], e)


@pytest.mark.parametrize("q", [2, 4, 10])
def test_global_matches_pandas_qcut(spark, tie_free, q):
    df = spark.createDataFrame([(i, x) for i, x in enumerate(tie_free)], "i bigint, x double")
    got = {
        r["i"]: r["x_qbin"]
        for r in quantile_bins(df, "x", q=q).collect()
    }
    exp = pd.qcut(pd.Series(tie_free), q, labels=False)
    assert got == {i: int(b) for i, b in exp.items()}


def test_anchor_degenerate_edge_value(spark):
    """The soak counterexample class: n-1 divisible by q puts edges ON
    data values.  The engine bins such a value LOW (right-closed, edge ==
    value exactly); pandas may bin it high when numpy's position rounding
    lands the edge one ulp below.  Pin the engine behavior + the parity
    envelope."""
    rng = random.Random(513410080)
    q = rng.choice([2, 3, 4, 5, 8, 16])
    nrows = rng.randrange(30, 900)
    assert (q, nrows) == (3, 31) and (nrows - 1) % q == 0
    vals = rng.sample(range(10_000_000), nrows)
    xs = [float(v) + rng.random() * 0.4 for v in vals]
    df = spark.createDataFrame(
        [(i, x) for i, x in enumerate(xs)], "i bigint, x double"
    )
    got = {r["i"]: r["x_qbin"] for r in quantile_bins(df, "x", q=q).collect()}
    exp = pd.qcut(pd.Series(xs), q, labels=False)
    _assert_pandas_parity(got, xs, exp, q)
    # engine semantics: the exact tercile data values bin LOW
    s = sorted(xs)
    for k, edge_val in ((10, s[10]), (20, s[20])):
        i = xs.index(edge_val)
        assert got[i] == (0 if k == 10 else 1)


def test_grouped_matches_pandas_per_group(spark, tie_free):
    rng = random.Random(80812)
    rows = [(i, rng.choice(["a", "b", "c"]), x) for i, x in enumerate(tie_free)]
    df = spark.createDataFrame(rows, "i bigint, g string, x double")
    got = {
        r["i"]: r["x_qbin"]
        for r in quantile_bins(df, "x", q=5, by="g").collect()
    }
    pdf = pd.DataFrame(rows, columns=["i", "g", "x"])
    for g, grp in pdf.groupby("g"):
        exp = pd.qcut(grp["x"], 5, labels=False)
        for i, b in zip(grp["i"], exp):
            assert got[i] == int(b), (g, i)


def test_value_equal_to_edge_goes_low(spark):
    # n=5, q=2 -> median edge is the middle value exactly; x == edge -> bin 0
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([1, 2, 3, 4, 5])], "i bigint, x double"
    )
    got = {r["i"]: r["x_qbin"] for r in quantile_bins(df, "x", q=2).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 1, 4: 1}
    exp = pd.qcut(pd.Series([1.0, 2.0, 3.0, 4.0, 5.0]), 2, labels=False)
    assert got == {i: int(b) for i, b in exp.items()}


def test_null_nan_and_missing_group(spark):
    rows = [(0, "a", 1.0), (1, "a", 2.0), (2, "a", 3.0),
            (3, "a", None), (4, "a", float("nan")), (5, "b", None)]
    df = spark.createDataFrame(rows, "i bigint, g string, x double")
    got = {r["i"]: r["x_qbin"] for r in quantile_bins(df, "x", q=3, by="g").collect()}
    assert got[3] is None and got[4] is None
    # group b has NO valid values -> no edges -> NULL bin
    assert got[5] is None
    assert got[0] == 0 and got[2] == 2
    gglob = {r["i"]: r["x_qbin"] for r in quantile_bins(df, "x", q=3).collect()}
    assert gglob[3] is None and gglob[4] is None


def test_all_null_frame_and_validation(spark):
    df = spark.createDataFrame([(1, None)], "i bigint, x double")
    assert quantile_bins(df, "x", q=4).collect()[0]["x_qbin"] is None
    with pytest.raises(ValueError):
        quantile_bins(df, "x", q=1)
    with pytest.raises(ValueError):
        quantile_bins(df, "x", q=20_001)


def test_heavy_ties_monotone_and_complete(spark):
    # massively tied data: bins must still be monotone in x and cover all rows
    rows = [(i, float(i % 3)) for i in range(300)]
    df = spark.createDataFrame(rows, "i bigint, x double")
    out = quantile_bins(df, "x", q=4).collect()
    by_x = {}
    for r in out:
        by_x.setdefault(r["x"], set()).add(r["x_qbin"])
    assert all(len(s) == 1 for s in by_x.values())
    xs = sorted(by_x)
    bins = [next(iter(by_x[x])) for x in xs]
    assert bins == sorted(bins)
    assert all(b is not None for b in bins)


def test_repartition_invariance(spark, tie_free):
    df = spark.createDataFrame([(i, x) for i, x in enumerate(tie_free)], "i bigint, x double")
    a = {r["i"]: r["x_qbin"] for r in quantile_bins(df.repartition(13), "x", q=7).collect()}
    b = {r["i"]: r["x_qbin"] for r in quantile_bins(df.repartition(1), "x", q=7).collect()}
    assert a == b


def test_qcut_internal_collision_guard(spark):
    df = spark.createDataFrame([(1.0, 2.0)], "x double, __edges double")
    with pytest.raises(ValueError, match="__edges"):
        quantile_bins(df, "x", q=2)


def test_grouped_two_pass_bit_identical(spark, tie_free):
    """method='two_pass' (chunked ranks) must produce the same bins as
    the window tier — forced multi-chunk with a tiny rows_per_chunk,
    and on heavily tied data where chunk boundaries cut tie runs."""
    rng = random.Random(80813)
    rows = [(i, rng.choice(["a", "b"]), x) for i, x in enumerate(tie_free)]
    rows += [(10_000 + i, "c", float(i % 7)) for i in range(200)]  # ties
    df = spark.createDataFrame(rows, "i bigint, g string, x double")
    for q in (3, 10):
        wbin = {
            r["i"]: r["x_qbin"]
            for r in quantile_bins(df, "x", q=q, by="g").collect()
        }
        tbin = {
            r["i"]: r["x_qbin"]
            for r in quantile_bins(
                df.repartition(11), "x", q=q, by="g",
                method="two_pass", rows_per_chunk=50,
            ).collect()
        }
        assert wbin == tbin
    with pytest.raises(ValueError):
        quantile_bins(df, "x", q=4, by="g", method="nope")


def test_null_group_is_its_own_group(spark):
    """A NULL group key is a group (GROUP BY semantics): its rows must
    get edges from THEIR distribution, for both execution tiers."""
    rows = [(i, None, float(i)) for i in range(10)] + [
        (100 + i, "a", float(1000 + i)) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "i bigint, g string, x double")
    for kw in ({}, {"method": "two_pass", "rows_per_chunk": 3}):
        got = {
            r["i"]: r["x_qbin"]
            for r in quantile_bins(df, "x", q=2, by="g", **kw).collect()
        }
        # NULL group: values 0..9, median edge 4.5 -> 0..4 bin 0, 5..9 bin 1
        for i in range(10):
            assert got[i] == (0 if i <= 4 else 1), (kw, i)
        for i in range(10):
            assert got[100 + i] == (0 if i <= 4 else 1), (kw, i)


def test_qcut_auto_skips_probe_on_boundable_frame(spark, tmp_path):
    """r11: quantile_bins(method='auto') must not pay the max-count probe
    job when a metadata row bound already proves no group can exceed
    rows_per_chunk — and the tiers stay bit-identical either way."""
    import pyspark.sql.functions as F

    from dask_groupby_spark.binning import quantile_bins

    p = str(tmp_path / "q.parquet")
    spark.range(500).selectExpr(
        "id", "id % 4 AS g", "CAST(pmod(id * 37, 101) AS DOUBLE) AS v"
    ).write.parquet(p)
    df = spark.read.parquet(p)

    # the tier decision (groupby_rank's, through two_pass.dispatch_auto)
    # resolves _metadata_row_bound from the two_pass module — spy there;
    # a bound of 500 <= rows_per_chunk is the zero-job short-circuit
    # condition
    from dask_groupby_spark import two_pass as tp

    calls = []
    orig = tp._metadata_row_bound

    def spy(frame, *a, **k):
        r = orig(frame, *a, **k)
        calls.append(r)
        return r

    tp._metadata_row_bound = spy
    try:
        auto = quantile_bins(df, "v", q=4, by="g", out="qb")
        rows_auto = sorted((r["id"], r["qb"]) for r in auto.collect())
        assert calls and calls[-1] == 500  # bound found -> no probe job
    finally:
        tp._metadata_row_bound = orig
    forced = quantile_bins(df, "v", q=4, by="g", out="qb", method="two_pass")
    rows_forced = sorted((r["id"], r["qb"]) for r in forced.collect())
    assert rows_auto == rows_forced
