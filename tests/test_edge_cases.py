"""Degenerate inputs: empty tables, all-missing labels, single rows.

Mirrors the reference's empty-bin / all-NaN-block edge tests
(flox/tests/test_core.py:823,1191)."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dask_groupby_spark import Bins, groupby_agg, groupby_reduce, groupby_scan

NAN = float("nan")


def _empty(spark):
    return spark.createDataFrame([], "label bigint, idx bigint, val double")


def test_empty_input_reduce(spark):
    out = groupby_reduce(_empty(spark), "label", func="nansum", value="val")
    assert out.collect() == []


def test_empty_input_with_expected_groups(spark):
    out = groupby_reduce(
        _empty(spark), "label", func="nansum", value="val",
        expected_groups=[0, 1], fill_value=0.0,
    ).collect()
    assert {r["label"]: r["nansum"] for r in out} == {0: 0.0, 1: 0.0}


def test_empty_input_scan(spark):
    out = groupby_scan(_empty(spark), "label", func="nancumsum", value="val", idx_col="idx")
    assert out.collect() == []


def test_all_labels_missing(spark):
    df = spark.createDataFrame(
        [(None, 1, 1.0), (None, 2, 2.0)], "label bigint, idx bigint, val double"
    )
    assert groupby_reduce(df, "label", func="count", value="val").collect() == []
    # with expected_groups the domain still materializes, filled
    out = groupby_reduce(
        df, "label", func="count", value="val", expected_groups=[5]
    ).collect()
    assert [(r["label"], r["count"]) for r in out] == [(5, 0)]


def test_single_row(spark):
    df = spark.createDataFrame([(1, 1, 3.0)], "label bigint, idx bigint, val double")
    for func, exp in [("nansum", 3.0), ("nanmean", 3.0), ("nanvar", None), ("count", 1)]:
        got = groupby_reduce(df, "label", func=func, value="val",
                             finalize_kwargs={"ddof": 1} if func == "nanvar" else None
                             ).collect()[0][func]
        if exp is None:
            assert got is None or math.isnan(got)  # ddof=1 var of 1 element
        else:
            assert got == exp


def test_empty_bins(spark):
    # values all out of bin range → every bin empty but present (ref
    # test_core.py:1191 test_empty_bins)
    df = spark.createDataFrame([(100.0, 1.0)], "x double, val double")
    out = groupby_reduce(
        df, "x", func="nansum", value="val",
        expected_groups=Bins([0.0, 1.0, 2.0]), fill_value=0.0,
    ).collect()
    assert {r["x_bin"]: r["nansum"] for r in out} == {0: 0.0, 1: 0.0}


def test_two_binned_groupers(spark):
    """BOTH groupers binned simultaneously (ref: flox test_core.py:1337
    test_multiple_groupers_bins): pairs (i, i) over breaks [2..7] land on
    the diagonal of the 5x5 bin grid; out-of-bounds pairs drop; the dense
    grid fills the rest with 0."""
    from dask_groupby_spark import Bins, groupby_reduce

    rows = [(float(i), float(i), 1) for i in range(10)]
    df = spark.createDataFrame(rows, "b1 double, b2 double, val bigint")
    breaks = [2.0, 3.0, 4.0, 5.0, 6.0, 7.0]
    out = groupby_reduce(
        df, "b1", "b2", func="count", value="val",
        expected_groups=(Bins(breaks), Bins(breaks)), fill_value=0,
    )
    got = {(r["b1_bin"], r["b2_bin"]): r["count"] for r in out.collect()}
    assert len(got) == 25  # full 5x5 grid
    for i in range(5):
        for j in range(5):
            assert got[(i, j)] == (1 if i == j else 0), (i, j)


def test_minhash_signatures_edge_semantics(spark):
    """Pins the r12 explode+agg plan's documented edge behavior: documents
    with fewer than shingle_k tokens (or empty / NULL text) are OMITTED,
    and two input rows sharing an id merge into ONE signature equal to the
    min over the union of their shingles (ids are documented as unique per
    row; this pins what happens when the contract is violated so a future
    plan change can't silently alter it)."""
    from dask_groupby_spark.operators.dedup import minhash_signatures

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "too short"),          # 2 tokens < k=3 -> omitted
            (3, ""),                   # empty -> omitted
            (4, None),                 # NULL -> omitted
            (5, "alpha beta gamma"),
            (5, "beta gamma delta"),   # duplicate id -> merged signature
        ],
        "doc_id bigint, text string",
    )
    sig = {r["id"]: [r[f"mh_{i}"] for i in range(8)]
           for r in minhash_signatures(df).collect()}
    assert set(sig) == {1, 5}

    union_doc = spark.createDataFrame(
        [(5, "alpha beta gamma"), (6, "beta gamma delta")],
        "doc_id bigint, text string",
    )
    per_row = {r["id"]: [r[f"mh_{i}"] for i in range(8)]
               for r in minhash_signatures(union_doc).collect()}
    expect = [min(a, b) for a, b in zip(per_row[5], per_row[6])]
    assert sig[5] == expect


def _small(spark):
    return spark.createDataFrame(
        [(1, 1.0, 1.0), (2, 2.0, 2.5), (3, 3.0, 4.0)], "k int, v double, x double"
    )


@pytest.mark.parametrize(
    "labels",
    [
        np.array([1, 2, 5]),
        np.array([1, 2, 5], dtype=np.int32),
        pd.Index([1, 2, 5]),
        np.arange(1, 4),
    ],
    ids=["np_int64", "np_int32", "pd_index", "np_arange"],
)
def test_expected_groups_numpy_int_labels(spark, labels):
    """numpy arrays / pd.Index are the usual flox expected_groups idiom;
    their numpy scalars become plain labels."""
    out = groupby_reduce(
        _small(spark), "k", func="nansum", value="v",
        expected_groups=(labels,), fill_value=0.0,
    )
    want = {1: 1.0, 2: 2.0, 3: 3.0, 5: 0.0}
    assert [(r["k"], r["nansum"]) for r in out.collect()] == [
        (int(k), want[int(k)]) for k in labels
    ]


@pytest.mark.parametrize(
    "labels", [np.array([1.0, 2.5, 3.0]), pd.Index([1.0, 2.5, 3.0])],
    ids=["np_float", "pd_float_index"],
)
def test_expected_groups_numpy_float_labels(spark, labels):
    out = groupby_agg(
        _small(spark), "x", funcs=[("count", "v", "n")], expected_groups=(labels,)
    )
    assert [(r["x"], r["n"]) for r in out.collect()] == [(1.0, 1), (2.5, 1), (3.0, 0)]


def _stamped(spark):
    return spark.createDataFrame(
        pd.DataFrame({
            "t": pd.to_datetime(["2020-01-01", "2020-01-02", "2020-01-02"]),
            "v": [1.0, 2.0, 3.0],
        })
    )


@pytest.mark.parametrize(
    "labels",
    [
        np.array(["2020-01-01", "2020-01-02", "2020-01-05"], dtype="datetime64[ns]"),
        pd.DatetimeIndex(["2020-01-01", "2020-01-02", "2020-01-05"]),
    ],
    ids=["np_datetime64_ns", "pd_datetime_index"],
)
def test_expected_groups_datetime64_labels(spark, labels):
    """datetime64[ns] labels (xarray's ``.values`` for a time coordinate)
    match timestamp keys; they must not turn into int nanoseconds."""
    out = groupby_reduce(
        _stamped(spark), "t", func="nansum", value="v",
        expected_groups=(labels,), fill_value=0.0,
    ).toPandas()
    assert out["t"].tolist() == list(pd.DatetimeIndex(labels))
    assert out["nansum"].tolist() == [1.0, 5.0, 0.0]


@pytest.mark.parametrize(
    "frame, key, labels",
    [("stamped", "t", [1, 2]), ("small", "k", ["1", "2"]), ("stamped", "v", ["a"])],
    ids=["int_for_timestamp", "str_for_int", "str_for_double"],
)
def test_expected_groups_label_type_mismatch_raises(spark, frame, key, labels):
    """Labels of the wrong kind for the key fail loudly instead of being
    coerced into a domain no group matches."""
    df = _stamped(spark) if frame == "stamped" else _small(spark)
    with pytest.raises(TypeError, match="does not match the key type"):
        groupby_reduce(df, key, func="count", value="v", expected_groups=(labels,))


def test_expected_groups_large_unordered_domain(spark):
    """A 65 536-label domain in no arithmetic order goes through the Arrow
    local relation in one piece: every label comes back, absent ones
    filled."""
    labels = np.random.default_rng(0).permutation(65_536)
    out = groupby_reduce(
        _small(spark), "k", func="nansum", value="v",
        expected_groups=(labels,), fill_value=0.0,
    ).toPandas()
    assert out["k"].tolist() == list(range(65_536))
    assert out["nansum"].sum() == 6.0 and (out["nansum"] > 0).sum() == 3


# ---------------------------------------------------------------- dense grids
# Oracle: pandas' grouped result reindexed onto the product of the key
# domains (observed labels, sorted, unless a literal domain is given).


def _grid_oracle(pdf, keys, agg, domains=None, fill_value=np.nan, **kw):
    got = pdf.groupby(keys)["v"].agg(agg, **kw)
    domains = domains or [None] * len(keys)
    levels = [
        sorted(pdf[k].dropna().unique()) if d is None else d
        for k, d in zip(keys, domains)
    ]
    full = pd.MultiIndex.from_product(levels, names=keys)
    return got.reindex(full, fill_value=fill_value).reset_index()


def _assert_grid(out, exp, value):
    got = out.toPandas()
    assert list(got.columns) == list(exp.columns[:-1]) + [value]
    keys = list(exp.columns[:-1])
    # same cells in the same (sorted) order
    pd.testing.assert_frame_equal(
        got[keys].reset_index(drop=True), exp[keys].reset_index(drop=True),
        check_dtype=False,
    )
    np.testing.assert_allclose(
        got[value].to_numpy(dtype=float), exp.iloc[:, -1].to_numpy(dtype=float),
        equal_nan=True,
    )
    return got


def test_grid_sparse_far_more_cells_than_rows(spark):
    """1 000 rows over 400 x 400 observed labels: 160 000 cells, 1 000 of
    them present; every present value lands on its own cell."""
    n = 1000
    pdf = pd.DataFrame({
        "a": np.arange(n) % 400,
        "b": (np.arange(n) * 7 + np.arange(n) // 400) % 400,
        "v": np.arange(n, dtype=float),
    })
    out = groupby_reduce(spark.createDataFrame(pdf), "a", "b", func="nansum", value="v")
    got = _assert_grid(out, _grid_oracle(pdf, ["a", "b"], "sum"), "nansum")
    assert len(got) == 400 * 400 and got["nansum"].notna().sum() == n


def test_grid_mixed_drops_entries_outside_literal_domain(spark):
    """Observed groups with a = 2 sit between the literal cells a = 1 and
    a = 3 in key order; they must drop, never fill a neighbouring cell.
    The cells (1, 2) and (3, 0) are absent next to present groups."""
    rows = [(1, 0, 1.0), (1, 1, 2.0), (2, 0, 5.0), (2, 1, 6.0), (2, 2, 7.0),
            (3, 1, 3.0), (3, 2, 4.0), (4, 0, 9.0)]
    pdf = pd.DataFrame(rows, columns=["a", "b", "v"])
    df = spark.createDataFrame(pdf)
    exp = _grid_oracle(pdf, ["a", "b"], "sum", domains=[[1, 3], None], fill_value=-1.0)
    out = groupby_reduce(df, "a", "b", func="nansum", value="v",
                         expected_groups=([1, 3], None), fill_value=-1.0)
    _assert_grid(out, exp, "nansum")
    agg = groupby_agg(df, "a", "b", funcs=[("nansum", "v", "s")],
                      expected_groups=([3, 1], None))
    _assert_grid(agg, _grid_oracle(pdf, ["a", "b"], "sum", domains=[[1, 3], None]), "s")


def test_grid_present_all_nan_group_vs_absent_cell(spark):
    """A present group whose values are all missing keeps the dtype NA; an
    absent cell takes fill_value.  With integral values, min_count promotes
    the result to float and masks the short groups with NaN."""
    rows = [(0, 0, NAN), (0, 0, NAN), (0, 1, 2.0), (1, 0, 3.0), (1, 0, 4.0)]
    pdf = pd.DataFrame(rows, columns=["a", "b", "v"])
    out = groupby_reduce(spark.createDataFrame(pdf), "a", "b", func="nanmean",
                         value="v", fill_value=-1.0)
    got = _assert_grid(out, _grid_oracle(pdf, ["a", "b"], "mean", fill_value=-1.0), "nanmean")
    assert math.isnan(got["nanmean"][0]) and got["nanmean"][3] == -1.0

    ints = spark.createDataFrame(
        [(0, 0, None), (0, 1, 2), (1, 0, 3), (1, 0, 4)], "a int, b int, v bigint"
    )
    ipdf = pd.DataFrame({"a": [0, 0, 1, 1], "b": [0, 1, 0, 0], "v": [np.nan, 2, 3, 4]})
    out = groupby_reduce(ints, "a", "b", func="nansum", value="v", min_count=2)
    assert dict(out.dtypes)["nansum"] == "double"
    _assert_grid(out, _grid_oracle(ipdf, ["a", "b"], "sum", min_count=2), "nansum")


def test_grid_string_keys(spark):
    rows = [("x", "p", 1.0), ("x", "q", 2.0), ("y", "q", 3.0), ("z", "p", 4.0),
            ("z", "r", 5.0)]
    pdf = pd.DataFrame(rows, columns=["a", "b", "v"])
    out = groupby_reduce(spark.createDataFrame(pdf), "a", "b", func="count", value="v")
    _assert_grid(out, _grid_oracle(pdf, ["a", "b"], "count", fill_value=0), "count")


def test_grid_empty_input(spark):
    df = spark.createDataFrame([], "a int, b string, v double")
    for out in (
        groupby_reduce(df, "a", "b", func="nansum", value="v"),
        groupby_reduce(df, "a", "b", func="nansum", value="v",
                       expected_groups=([1, 2], None), fill_value=0.0),
    ):
        assert out.columns == ["a", "b", "nansum"]
        assert out.collect() == []


def test_grid_nan_fill_on_integral_result(spark):
    """A NaN fill_value on an integral grid promotes the absent cells to a
    double NaN (flox promotes likewise); a cast back to the integral type
    cannot hold NaN."""
    rows = [(0, 0, 1.0), (0, 1, 2.0), (1, 0, 3.0)]
    pdf = pd.DataFrame(rows, columns=["a", "b", "v"])
    out = groupby_reduce(spark.createDataFrame(pdf), "a", "b", func="count",
                         value="v", fill_value=NAN)
    assert dict(out.dtypes)["count"] == "double"
    _assert_grid(out, _grid_oracle(pdf, ["a", "b"], "count"), "count")


def test_resample_dense_empty_bucket_takes_func_fill(spark):
    """An empty bucket of a dense resample is an absent grid cell: count
    reads 0 there, like an absent (bucket, key) cell, and the bucket axis
    spans the first to the last observed bucket."""
    import datetime as dt

    from dask_groupby_spark.resample import resample

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 1), 1.0), (dt.datetime(2024, 1, 3, 1), NAN)],
        "ts timestamp, v double",
    )
    got = [(r["bucket"].day, r["count"]) for r in
           resample(df, "ts", "1 day", "count", "v", dense=True).collect()]
    assert got == [(1, 1), (2, 0), (3, 0)]
