"""resample (time-bucket reduce) vs pandas resample oracle."""

import datetime as dt
import math

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from dask_groupby_spark.resample import resample


def _fixture():
    rng = np.random.RandomState(3)
    base = dt.datetime(2024, 1, 1)
    # irregular timestamps over ~40 days with a 9-day hole (days 12..20)
    offs = sorted(
        float(o)
        for o in rng.uniform(0, 40 * 86400, 120)
        if not (12 * 86400 < o < 21 * 86400)
    )
    pdf = pd.DataFrame(
        {
            "ts": [base + dt.timedelta(seconds=o) for o in offs],
            "v": rng.randn(len(offs)) * 5,
        }
    )
    return pdf


def test_resample_5d_nansum_matches_pandas(spark):
    pdf = _fixture()
    df = spark.createDataFrame(pdf)
    out = resample(df, "ts", "5 days", "nansum", "v").collect()
    got = {r["bucket"]: r["nansum"] for r in out}
    exp = pdf.set_index("ts")["v"].resample("5D", origin="epoch").sum()
    exp = exp[exp.index.isin(got)]  # pandas emits empty buckets; sparse path doesn't
    for k, v in exp.items():
        assert abs(got[k.to_pydatetime()] - v) < 1e-9


def test_resample_dense_fills_gap(spark):
    pdf = _fixture()
    df = spark.createDataFrame(pdf)
    out = resample(df, "ts", "5 days", "nanmean", "v", dense=True).collect()
    got = {r["bucket"]: r["nanmean"] for r in out}
    exp = pdf.set_index("ts")["v"].resample("5D", origin="epoch").mean()
    assert set(got) == {k.to_pydatetime() for k in exp.index}
    for k, v in exp.items():
        g = got[k.to_pydatetime()]
        if math.isnan(v):
            assert math.isnan(g)  # empty bucket → dtype NA (NaN)
        else:
            assert abs(g - v) < 1e-9


def test_resample_calendar_month(spark):
    pdf = _fixture()
    df = spark.createDataFrame(pdf)
    out = resample(df, "ts", "month", "count", "v").collect()
    got = {r["bucket"]: r["count"] for r in out}
    exp = pdf.set_index("ts")["v"].resample("MS").count()
    exp = exp[exp > 0]
    assert got == {k.to_pydatetime(): int(v) for k, v in exp.items()}


def test_resample_extra_key(spark):
    rows = [
        (dt.datetime(2024, 1, 1, h), "a" if h % 2 == 0 else "b", float(h))
        for h in range(12)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, k string, v double")
    out = resample(df, "ts", "6 hours", "nansum", "v", "k").collect()
    got = {(r["bucket"].hour, r["k"]): r["nansum"] for r in out}
    assert got == {
        (0, "a"): 0 + 2 + 4, (0, "b"): 1 + 3 + 5,
        (6, "a"): 6 + 8 + 10, (6, "b"): 7 + 9 + 11,
    }


def test_resample_dense_extra_key_full_grid(spark):
    import datetime as dt

    # key "b" appears only on day 1, key "a" only on days 1 and 3; day 2 is
    # empty entirely — dense=True must emit the FULL 3-day × 2-key grid
    rows = [
        (dt.datetime(2024, 1, 1, 1), "a", 1.0),
        (dt.datetime(2024, 1, 1, 2), "b", 2.0),
        (dt.datetime(2024, 1, 3, 5), "a", 4.0),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, k string, v double")
    out = resample(df, "ts", "1 day", "nansum", "v", "k",
                   dense=True, fill_value=0.0).collect()
    got = {(r["bucket"].day, r["k"]): r["nansum"] for r in out}
    assert got == {
        (1, "a"): 1.0, (1, "b"): 2.0,
        (2, "a"): 0.0, (2, "b"): 0.0,
        (3, "a"): 4.0, (3, "b"): 0.0,
    }
    # no NULL-key rows (the pre-fix degraded behavior)
    assert all(r["k"] is not None for r in out)


def test_resample_dense_fractional_second_width(spark):
    """A fractional-second width must build its dense grid on the REAL
    bucket positions (r9 review: int() truncation made the grid-preserving
    join drop every aggregated bucket past the first)."""
    import datetime

    from dask_groupby_spark.resample import resample

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(seconds=s), float(i))
        for i, s in enumerate([0.0, 0.6, 1.2, 3.1])
    ]
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    out = resample(df, "ts", 0.5, "nansum", "v", dense=True)
    got = {r["bucket"].isoformat(): r["nansum"] for r in out.collect()}
    # buckets at 0.0, 0.5, 1.0, 3.0 observed; dense adds the empty steps
    assert got["2024-01-01T00:00:00"] == 0.0
    assert got["2024-01-01T00:00:00.500000"] == 1.0
    assert got["2024-01-01T00:00:01"] == 2.0
    assert got["2024-01-01T00:00:03"] == 3.0
    assert math.isnan(got["2024-01-01T00:00:01.500000"])  # empty grid cell
    assert len(got) == 7  # 0.0 .. 3.0 every 0.5s


def test_resample_rejects_nonpositive_width(spark):
    import pytest as _pytest

    from dask_groupby_spark.resample import resample

    df = spark.createDataFrame([(None, 1.0)], "ts timestamp, v double")
    with _pytest.raises(ValueError, match="positive"):
        resample(df, "ts", 0, "nansum", "v")
    with _pytest.raises(ValueError, match="positive"):
        resample(df, "ts", -3.5, "nansum", "v")
