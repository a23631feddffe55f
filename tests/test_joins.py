"""as-of join: backward/forward, tolerance, per-key isolation, plan shape."""

import datetime as dt

import pytest

from dask_groupby_spark.operators.joins import asof_join
from dask_groupby_spark.plans import count_exchanges


def _tables(spark):
    base = dt.datetime(2024, 1, 1)
    trades = spark.createDataFrame(
        [
            (1, base + dt.timedelta(minutes=5), 100.0),
            (1, base + dt.timedelta(minutes=20), 101.0),
            (2, base + dt.timedelta(minutes=1), 50.0),
        ],
        "key bigint, ts timestamp, trade double",
    )
    quotes = spark.createDataFrame(
        [
            (1, base + dt.timedelta(minutes=0), 99.0),
            (1, base + dt.timedelta(minutes=5), 99.5),   # same-ts: visible backward
            (1, base + dt.timedelta(minutes=15), 100.5),
            (2, base + dt.timedelta(minutes=30), 49.0),  # only AFTER the trade
        ],
        "key bigint, ts timestamp, quote double",
    )
    return trades, quotes


def test_asof_backward(spark):
    trades, quotes = _tables(spark)
    out = asof_join(trades, quotes, on="ts", by=["key"]).collect()
    got = {(r["key"], r["ts"].minute): (r["quote_right"], r["ts_right"].minute if r["ts_right"] else None)
           for r in out}
    assert got[(1, 5)] == (99.5, 5)      # same-timestamp quote matches
    assert got[(1, 20)] == (100.5, 15)   # most recent preceding
    assert got[(2, 1)] == (None, None)   # no preceding quote for key 2


def test_asof_forward_and_tolerance(spark):
    trades, quotes = _tables(spark)
    fwd = asof_join(trades, quotes, on="ts", by=["key"], direction="forward").collect()
    got = {(r["key"], r["ts"].minute): r["quote_right"] for r in fwd}
    assert got[(1, 5)] == 99.5           # same ts counts forward too
    assert got[(2, 1)] == 49.0           # first following
    tol = asof_join(trades, quotes, on="ts", by=["key"], tolerance=300.0).collect()
    got_tol = {(r["key"], r["ts"].minute): r["quote_right"] for r in tol}
    assert got_tol[(1, 5)] == 99.5       # 0s gap ≤ 5min
    assert got_tol[(1, 20)] == 100.5     # gap exactly 300s ≤ tolerance → kept
    # shrinking the tolerance below the gap drops the match
    tol2 = asof_join(trades, quotes, on="ts", by=["key"], tolerance=299.0).collect()
    got_tol2 = {(r["key"], r["ts"].minute): r["quote_right"] for r in tol2}
    assert got_tol2[(1, 20)] is None


def test_asof_nearest_vs_pandas(spark):
    """direction='nearest' randomized differential vs pandas merge_asof
    (ties → backward; tolerance on |delta|)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7777)
    left = pd.DataFrame(
        {
            "key": rng.integers(0, 3, 60),
            "ts": np.sort(rng.integers(0, 500, 60)).astype("int64"),
            "lval": np.arange(60, dtype="int64"),
        }
    )
    right = pd.DataFrame(
        {
            "key": rng.integers(0, 3, 40),
            "ts": np.sort(rng.choice(np.arange(0, 500, 2), 40, replace=False)).astype("int64"),
            "rval": np.arange(40, dtype="int64") * 10,
        }
    )
    # pandas merge_asof requires unique right (key, ts) for exactness: ensured
    # by replace=False choice above (per-key duplicates impossible globally)
    exp = pd.merge_asof(
        left.sort_values("ts"),
        right.sort_values("ts"),
        on="ts",
        by="key",
        direction="nearest",
    ).set_index("lval")["rval"]

    l_sdf = spark.createDataFrame(left, "key bigint, ts bigint, lval bigint")
    r_sdf = spark.createDataFrame(right, "key bigint, ts bigint, rval bigint")
    out = asof_join(l_sdf, r_sdf, on="ts", by=["key"], direction="nearest")
    got = {r["lval"]: r["rval_right"] for r in out.collect()}
    for lval, e in exp.items():
        g = got[lval]
        if pd.isna(e):
            assert g is None, (lval, g)
        else:
            assert g == e, (lval, g, e)

    # tolerance prunes on |delta|
    tol = asof_join(
        l_sdf, r_sdf, on="ts", by=["key"], direction="nearest", tolerance=3.0
    )
    exp_tol = pd.merge_asof(
        left.sort_values("ts"), right.sort_values("ts"),
        on="ts", by="key", direction="nearest", tolerance=3,
    ).set_index("lval")["rval"]
    got_tol = {r["lval"]: r["rval_right"] for r in tol.collect()}
    for lval, e in exp_tol.items():
        g = got_tol[lval]
        assert (g is None) if pd.isna(e) else (g == e), (lval, g, e)


def test_range_join(spark):
    from dask_groupby_spark.operators.joins import range_join

    base = dt.datetime(2024, 1, 1)
    points = spark.createDataFrame(
        [
            (1, base + dt.timedelta(minutes=30), "p1"),
            (1, base + dt.timedelta(hours=5), "p2"),
            (2, base + dt.timedelta(minutes=30), "p3"),
        ],
        "key bigint, ts timestamp, tag string",
    )
    intervals = spark.createDataFrame(
        [
            (1, base, base + dt.timedelta(hours=1), "w1"),          # covers p1
            (1, base + dt.timedelta(minutes=15), base + dt.timedelta(hours=2), "w2"),  # covers p1 too
            (2, base + dt.timedelta(hours=1), base + dt.timedelta(hours=2), "w3"),     # misses p3
        ],
        "key bigint, s timestamp, e timestamp, win string",
    )
    out = range_join(
        points, intervals, on="ts", start="s", end="e", by=["key"],
        bucket_width=600.0,
    ).collect()
    got = sorted((r["tag"], r["win_right"]) for r in out)
    assert got == [("p1", "w1"), ("p1", "w2")]  # each pair exactly once


def test_range_join_boundaries(spark):
    from dask_groupby_spark.operators.joins import range_join

    pts = spark.createDataFrame([(1, 10.0, "a"), (1, 20.0, "b"), (1, 20.001, "c")],
                                "key bigint, x double, tag string")
    iv = spark.createDataFrame([(1, 10.0, 20.0, "i")],
                               "key bigint, s double, e double, win string")
    out = range_join(pts, iv, on="x", start="s", end="e", by=["key"], bucket_width=7.0)
    tags = sorted(r["tag"] for r in out.collect())
    assert tags == ["a", "b"]  # closed on both ends; 20.001 excluded


def test_asof_null_right_values_attach_atomically(spark):
    # The matched right row must attach as a whole: a NULL in one right value
    # column may NOT be back-filled from an older right row (DuckDB ASOF
    # attaches one row, not per-column carries).
    left = spark.createDataFrame(
        [(1, 10.0, "t1"), (1, 20.0, "t2")], "key bigint, ts double, tag string"
    )
    right = spark.createDataFrame(
        [(1, 5.0, 1.0, 100.0), (1, 15.0, None, 200.0)],
        "key bigint, ts double, bid double, size double",
    )
    out = asof_join(left, right, on="ts", by=["key"]).collect()
    got = {r["tag"]: (r["bid_right"], r["size_right"], r["ts_right"]) for r in out}
    assert got["t1"] == (1.0, 100.0, 5.0)
    # t2 matches the ts=15 row: bid stays NULL (not 1.0 from the ts=5 row)
    assert got["t2"] == (None, 200.0, 15.0)


def test_asof_null_right_ts_unmatchable(spark):
    left = spark.createDataFrame([(1, 10.0, "t1")], "key bigint, ts double, tag string")
    right = spark.createDataFrame(
        [(1, None, 7.0)], "key bigint, ts double, q double"
    )
    out = asof_join(left, right, on="ts", by=["key"]).collect()
    assert out[0]["q_right"] is None and out[0]["ts_right"] is None


def test_asof_single_shuffle(spark):
    trades, quotes = _tables(spark)
    out = asof_join(trades, quotes, on="ts", by=["key"])
    # union + window: exactly one Exchange on the key — no pair blow-up
    assert count_exchanges(out) <= 1


def test_asof_randomized_vs_duckdb(spark):
    """Differential test vs DuckDB's native ASOF JOIN on randomized data
    with NULLs in right value columns (the advisor-flagged case: the
    matched right row must attach atomically)."""
    import duckdb
    import numpy as np

    rng = np.random.RandomState(20240813)
    n_l, n_r = 120, 90
    lrows = [
        (int(rng.randint(0, 4)), float(rng.randint(0, 500)), i)
        for i in range(n_l)
    ]
    rrows = []
    for j in range(n_r):
        bid = None if rng.rand() < 0.3 else float(rng.randint(0, 100))
        size = None if rng.rand() < 0.3 else float(rng.randint(0, 1000))
        rrows.append((int(rng.randint(0, 4)), float(rng.randint(0, 500)), bid, size))
    # DuckDB ASOF: unspecified which right row wins on duplicate (key, ts) —
    # make them unique to keep the comparison deterministic
    seen = set()
    rrows = [r for r in rrows if (r[0], r[1]) not in seen and not seen.add((r[0], r[1]))]

    left = spark.createDataFrame(lrows, "key bigint, ts double, lid bigint")
    right = spark.createDataFrame(rrows, "key bigint, ts double, bid double, size double")
    got = {
        r["lid"]: (r["bid_right"], r["size_right"], r["ts_right"])
        for r in asof_join(left, right, on="ts", by=["key"]).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE l(key BIGINT, ts DOUBLE, lid BIGINT)")
    con.execute("CREATE TABLE r(key BIGINT, ts DOUBLE, bid DOUBLE, size DOUBLE)")
    con.executemany("INSERT INTO l VALUES (?,?,?)", lrows)
    con.executemany("INSERT INTO r VALUES (?,?,?,?)", rrows)
    exp = {
        lid: (bid, size, rts)
        for lid, bid, size, rts in con.execute(
            """SELECT l.lid, r.bid, r.size, r.ts
               FROM l ASOF LEFT JOIN r ON l.key = r.key AND l.ts >= r.ts"""
        ).fetchall()
    }
    assert got == exp


# ------------------------------------------------------------- bloom semi join


class TestBloomSemiJoin:
    def test_exact_vs_plain_semi_join(self, spark):
        from dask_groupby_spark.operators.joins import bloom_semi_join
        from pyspark.sql import functions as F

        big = spark.range(20000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        small = spark.range(0, 20000, 37).select(F.col("id").alias("k"))
        got = sorted(r["k"] for r in bloom_semi_join(big, small, "k", num_bits=1 << 14).collect())
        want = sorted(r["k"] for r in big.join(small, "k", "leftsemi").collect())
        assert got == want

    def test_prefilter_superset_no_false_negatives(self, spark):
        from dask_groupby_spark.operators.joins import bloom_bits_table, bloom_prefilter
        from pyspark.sql import functions as F

        big = spark.range(20000).select(F.col("id").alias("k"))
        small = spark.range(0, 20000, 100).select(F.col("id").alias("k"))
        bits = bloom_bits_table(small, "k", 1 << 14, 3)
        cand = set(r["k"] for r in bloom_prefilter(big, bits, "k", 1 << 14, 3).collect())
        truth = set(range(0, 20000, 100))
        assert truth <= cand                      # zero false negatives
        assert len(cand) < 20000 * 0.2            # and the filter actually filters

    def test_big_side_never_shuffles(self, spark):
        from dask_groupby_spark.operators.joins import bloom_bits_table, bloom_prefilter
        from dask_groupby_spark.plans import physical_plan
        from pyspark.sql import functions as F

        big = spark.range(1000).select(F.col("id").alias("k"))
        small = spark.range(10).select(F.col("id").alias("k"))
        import re

        plan = physical_plan(bloom_prefilter(big, bloom_bits_table(small, "k", 1 << 10), "k", 1 << 10))
        # all three probes are broadcast joins; the big side never shuffles
        assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)) == 3, plan
        assert "SortMergeJoin" not in plan, plan
        # the only Exchanges are the bitmap builds (partitioned on word);
        # the probe key never shuffles
        assert "hashpartitioning(k" not in plan, plan

    def test_probes_reuse_one_bitmap_broadcast(self, spark):
        """Nothing is persisted: the num_hashes probe joins broadcast the
        same bitmap subtree, so the executed plan builds it through one
        BroadcastExchange and the other probes read a ReusedExchange."""
        import re

        from dask_groupby_spark.operators.joins import bloom_semi_join

        big = spark.range(1000).selectExpr("id AS k")
        small = spark.range(0, 1000, 50).selectExpr("id AS k")
        num_hashes = 3
        out = bloom_semi_join(big, small, "k", num_bits=1 << 10, num_hashes=num_hashes)
        assert len(out.collect()) == 20
        plan = out._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        # a reused exchange does not print its subtree: one bitmap build
        assert final.count("functions=[bit_or(") == 1, plan
        assert len(re.findall(r"ReusedExchange \[__w\d", final)) == num_hashes - 1, plan

    def test_null_keys_dropped(self, spark):
        from dask_groupby_spark.operators.joins import bloom_semi_join

        big = spark.createDataFrame([(1,), (None,), (2,)], "k bigint")
        small = spark.createDataFrame([(1,), (None,)], "k bigint")
        got = sorted(r["k"] for r in bloom_semi_join(big, small, "k", num_bits=1 << 10).collect())
        assert got == [1]

    def test_validates_params(self, spark):
        from dask_groupby_spark.operators.joins import bloom_bits_table

        df = spark.createDataFrame([(1,)], "k bigint")
        import pytest as _pt
        with _pt.raises(ValueError):
            bloom_bits_table(df, "k", num_bits=100)   # not multiple of 64
        with _pt.raises(ValueError):
            bloom_bits_table(df, "k", num_hashes=0)

    def test_bitmaps_union_incrementally(self, spark):
        from dask_groupby_spark.operators.joins import bloom_bits_table, bloom_prefilter
        from pyspark.sql import functions as F

        a = spark.range(0, 50).select(F.col("id").alias("k"))
        b = spark.range(50, 100).select(F.col("id").alias("k"))
        merged = (
            bloom_bits_table(a, "k", 1 << 10)
            .unionByName(bloom_bits_table(b, "k", 1 << 10))
            .groupBy("word")
            .agg(F.bit_or("bits").alias("bits"))
        )
        big = spark.range(200).select(F.col("id").alias("k"))
        cand = set(r["k"] for r in bloom_prefilter(big, merged, "k", 1 << 10).collect())
        assert set(range(100)) <= cand


# ------------------------------------------------------- interval overlap join


class TestIntervalOverlapJoin:
    def _brute(self, lrows, rrows):
        return sorted(
            (lt, rt)
            for (lu, ls, le, lt) in lrows
            for (ru, rs, re, rt) in rrows
            if lu == ru and ls <= re and rs <= le
        )

    def test_matches_brute_force_random(self, spark):
        import numpy as np

        from dask_groupby_spark.operators.joins import interval_overlap_join

        rng = np.random.default_rng(23)
        lrows = [
            (int(rng.integers(0, 5)), float(s), float(s + rng.exponential(10)), f"l{i}")
            for i, s in enumerate(rng.uniform(0, 500, 120))
        ]
        rrows = [
            (int(rng.integers(0, 5)), float(s), float(s + rng.exponential(5)), f"r{i}")
            for i, s in enumerate(rng.uniform(0, 500, 100))
        ]
        l = spark.createDataFrame(lrows, "uid bigint, s double, e double, tag string")
        r = spark.createDataFrame(rrows, "uid bigint, s double, e double, rtag string")
        want = self._brute(lrows, rrows)
        for w in (3.0, 11.0, 50.0):   # result must be bucket-width invariant
            out = interval_overlap_join(l, r, "s", "e", "s", "e", by=["uid"], bucket_width=w)
            got = sorted((row["tag"], row["rtag"]) for row in out.collect())
            assert got == want, f"bucket_width={w}"

    def test_no_duplicate_pairs_on_long_intervals(self, spark):
        from dask_groupby_spark.operators.joins import interval_overlap_join

        # both intervals span many buckets; the anchor rule must emit once
        l = spark.createDataFrame([(1, 0.0, 1000.0, "L")], "uid bigint, s double, e double, tag string")
        r = spark.createDataFrame([(1, 500.0, 1500.0, "R")], "uid bigint, s double, e double, rtag string")
        out = interval_overlap_join(l, r, "s", "e", "s", "e", by=["uid"], bucket_width=10.0)
        assert out.count() == 1

    def test_degenerate_and_null_intervals_dropped(self, spark):
        from dask_groupby_spark.operators.joins import interval_overlap_join

        l = spark.createDataFrame(
            [(1, 5.0, 1.0, "rev"), (1, None, 3.0, "null"), (1, 0.0, 10.0, "ok")],
            "uid bigint, s double, e double, tag string",
        )
        r = spark.createDataFrame([(1, 2.0, 3.0, "R")], "uid bigint, s double, e double, rtag string")
        out = interval_overlap_join(l, r, "s", "e", "s", "e", by=["uid"])
        assert [row["tag"] for row in out.collect()] == ["ok"]

    def test_timestamp_bounds(self, spark):
        from dask_groupby_spark.operators.joins import interval_overlap_join
        from pyspark.sql import functions as F

        l = spark.createDataFrame(
            [(1, "2024-01-01 00:00:00", "2024-01-01 01:00:00", "L")],
            "uid bigint, s string, e string, tag string",
        ).select("uid", F.col("s").cast("timestamp").alias("s"),
                 F.col("e").cast("timestamp").alias("e"), "tag")
        r = spark.createDataFrame(
            [(1, "2024-01-01 00:30:00", "2024-01-01 02:00:00", "R"),
             (1, "2024-01-01 01:30:00", "2024-01-01 02:00:00", "miss")],
            "uid bigint, s string, e string, rtag string",
        ).select("uid", F.col("s").cast("timestamp").alias("s"),
                 F.col("e").cast("timestamp").alias("e"), "rtag")
        out = interval_overlap_join(l, r, "s", "e", "s", "e", by=["uid"])
        assert [row["rtag"] for row in out.collect()] == ["R"]

    def test_equi_join_not_cartesian(self, spark):
        import re

        from dask_groupby_spark.operators.joins import interval_overlap_join
        from dask_groupby_spark.plans import physical_plan

        l = spark.createDataFrame([(1, 0.0, 1.0, "L")], "uid bigint, s double, e double, tag string")
        r = spark.createDataFrame([(1, 0.5, 2.0, "R")], "uid bigint, s double, e double, rtag string")
        plan = physical_plan(interval_overlap_join(l, r, "s", "e", "s", "e", by=["uid"]))
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


# ----------------------------------------------- r7 deep-review regressions


class TestR7JoinFixes:
    def test_asof_null_left_ts_unmatched_all_directions(self, spark):
        """A left row with NULL timestamp has no as-of position: it must
        stay unmatched under backward AND forward AND nearest (forward
        used to attach the partition's earliest right row)."""
        from dask_groupby_spark.operators.joins import asof_join

        left = spark.createDataFrame(
            [(1, None, "x"), (1, 5.0, "y")], "k bigint, ts double, lv string"
        )
        right = spark.createDataFrame(
            [(1, 1.0, "r1"), (1, 9.0, "r9")], "k bigint, ts double, rv string"
        )
        for direction in ("backward", "forward", "nearest"):
            out = {
                (r["lv"]): r["rv_right"]
                for r in asof_join(
                    left, right, on="ts", by=["k"], direction=direction
                ).collect()
            }
            assert out["x"] is None, direction
            assert out["y"] is not None, direction

    def test_bloom_key_type_drift_no_false_negatives(self, spark):
        """INT big side vs BIGINT small side (parquet schema drift): the
        canonical string hash must keep the zero-false-negative contract
        — the type-sensitive xxhash64 used to drop true matches."""
        from dask_groupby_spark.operators.joins import bloom_semi_join

        big = spark.range(1000).selectExpr("CAST(id AS INT) AS k")
        small = spark.range(0, 1000, 100).selectExpr("id AS k")  # BIGINT
        got = sorted(r["k"] for r in bloom_semi_join(big, small, "k", num_bits=1 << 12).collect())
        assert got == list(range(0, 1000, 100))

    def test_interval_and_range_join_suffix_collision_raises(self, spark):
        from dask_groupby_spark.operators.joins import (
            interval_overlap_join,
            range_join,
        )

        left = spark.createDataFrame(
            [(0.0, 5.0, "a", "clash")], "s double, e double, v string, v_right string"
        )
        right = spark.createDataFrame(
            [(1.0, 2.0, "b")], "s double, e double, v string"
        )
        with pytest.raises(ValueError, match="collides"):
            interval_overlap_join(left, right, "s", "e", "s", "e").collect()
        pleft = spark.createDataFrame(
            [(1.0, "x", "clash")], "t double, v string, v_right string"
        )
        with pytest.raises(ValueError, match="collides"):
            range_join(pleft, right.withColumnRenamed("e", "end")
                       .withColumnRenamed("s", "start"),
                       "t", "start", "end").collect()
