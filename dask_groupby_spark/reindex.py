"""Reindex a grouped result onto its key domains (ref: flox ``reindex_``,
flox/core.py:667-712): groups present in the expected domain but absent from
the data appear with ``fill_value``; with multiple groupers the output is the
dense cross-product grid (ref: ``_factorize_multiple`` raveling,
flox/core.py:2115-2166).

Two Spark realizations, picked by where the domains come from:

- every domain is client-literal (``expected_groups`` labels, ``Bins``
  codes): a RIGHT OUTER join from the aggregated result onto the expected
  dimension table (:func:`expected_groups_df`, :func:`reindex_result`).
  The table is built from the client's labels as a JVM-local relation, so
  the join never shuffles big data and never starts a Python worker;
- some domain is observed (a multi-key reduction, ``resample(dense=True)``'s
  bucket axis, a mixed literal/observed ``expected_groups``):
  :func:`dense_grid` merges the aggregate onto the domains in one pass over
  the aggregate, in one task, with no join and nothing pinned.
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence, Union

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: marker column an aggregate carries into :func:`reindex_result`
PRESENT = "__present"

#: numpy datetime/timedelta kinds at Spark's microsecond resolution
_US_UNITS = {"M": "datetime64[us]", "m": "timedelta64[us]"}


def as_labels(vals) -> list:
    """Expected-domain labels as plain Python scalars: numpy arrays and
    ``pd.Index`` (the usual flox idiom) carry numpy scalars, which Spark's
    type checks do not take for ints.  ``datetime64``/``timedelta64``
    arrays go through microseconds — Spark's timestamp unit — to
    ``datetime``/``timedelta``; a bare ``tolist()`` would give int
    nanoseconds."""
    dtype = getattr(vals, "dtype", None)
    if isinstance(dtype, np.dtype) and dtype.kind in _US_UNITS:
        return np.asarray(vals).astype(_US_UNITS[dtype.kind]).tolist()
    if hasattr(vals, "tolist"):
        return vals.tolist()
    return [v.item() if isinstance(v, np.generic) else v for v in vals]


#: Arrow type predicates each key type's labels must match.  Arrow's cast
#: would otherwise coerce silently where a mismatch is a caller error —
#: ints read as microseconds for a timestamp key, ints printed as strings
#: for a string key.  Key types not listed are left to the Arrow cast.
_NUMERIC = (pa.types.is_integer, pa.types.is_floating, pa.types.is_decimal)
_TEMPORAL = (pa.types.is_timestamp, pa.types.is_date)
_LABEL_KINDS = {
    T.ByteType: _NUMERIC,
    T.ShortType: _NUMERIC,
    T.IntegerType: _NUMERIC,
    T.LongType: _NUMERIC,
    T.FloatType: _NUMERIC,
    T.DoubleType: _NUMERIC,
    T.DecimalType: _NUMERIC,
    T.BooleanType: (pa.types.is_boolean,),
    T.StringType: (pa.types.is_string, pa.types.is_large_string),
    T.BinaryType: (pa.types.is_binary, pa.types.is_large_binary),
    T.TimestampType: _TEMPORAL,
    T.TimestampNTZType: _TEMPORAL,
    T.DateType: _TEMPORAL,
}


def _literal_domain(
    spark: SparkSession, name: str, labels: list, ktype: T.DataType, column: str
) -> DataFrame:
    """Key ``name``'s client-literal labels as a JVM-local relation with
    the one column ``column``: an Arrow table handed to ``createDataFrame``,
    which plans as a ``LocalRelation`` (``LocalTableScan``) and builds in
    O(1) Py4J round trips whatever its size.

    Never Python rows: ``createDataFrame(list_of_tuples)`` plans as
    ``Scan ExistingRDD``, which starts a Python worker on every execution
    (~0.3 s per call), and one ``F.lit`` per label costs seconds of build
    for a large domain."""
    arr = pa.array(labels)
    kinds = _LABEL_KINDS.get(type(ktype))
    if kinds is not None and not pa.types.is_null(arr.type) and not any(k(arr.type) for k in kinds):
        raise TypeError(
            f"expected_groups labels for {name!r} are {arr.type}, "
            f"which does not match the key type {ktype.simpleString()}"
        )
    return spark.createDataFrame(
        pa.table({column: arr}), schema=T.StructType([T.StructField(column, ktype)])
    )


def expected_groups_df(
    spark: SparkSession,
    key_names: Sequence[str],
    expected: Sequence[list],
    key_types: Sequence[T.DataType],
) -> DataFrame:
    """The dense expected-groups dimension table of all-literal domains:
    the cross product of the per-grouper label lists, each a JVM-local
    relation (:func:`_literal_domain`)."""
    dims = [
        _literal_domain(spark, name, vals, ktype, name)
        for name, vals, ktype in zip(key_names, expected, key_types)
    ]
    # the hint fixes the build side: left to AQE, it broadcast whichever
    # side finished first, so the join code (and compiled class) changed
    # from call to call
    return reduce(lambda a, b: a.crossJoin(b.hint("broadcast")), dims)


def reindex_result(
    result: DataFrame,
    expected_df: DataFrame,
    key_names: Sequence[str],
    fills: dict[str, Column],
) -> DataFrame:
    """RIGHT OUTER JOIN result → expected; an expected group missing from
    ``result`` (NULL ``__present`` marker) takes its column's fill.

    No join-strategy hint, deliberately.  An outer join cannot broadcast
    its *preserved* side, so the only forceable broadcast is the
    aggregated result — |groups| rows, a driver OOM at 100 TB with a
    high-cardinality grouper.  Left to AQE, a small aggregate is broadcast
    from its runtime size and a huge one takes a shuffled join."""
    absent = F.col(PRESENT).isNull()
    return result.join(expected_df, on=list(key_names), how="right_outer").select(
        *key_names,
        *[F.when(absent, f).otherwise(F.col(v)).alias(v) for v, f in fills.items()],
    )


#: tag of a grid-cell row and of an observed-group entry row in the merge
_CELL, _ENTRY = 0, 1


def dense_grid(
    agg: DataFrame,
    domains: Sequence[tuple[str, Union[None, list, Column]]],
    fills: dict[str, Column],
) -> DataFrame:
    """The dense grid of a finished aggregate, sorted by its keys.

    ``agg`` holds one row per observed group: the keys named in ``domains``
    and the values named in ``fills``.  A key's domain is ``None`` (its
    observed labels), a list (client labels) or an aggregate ``Column``
    over ``agg`` (``resample``'s ``sequence(min(k), max(k), step)``).  An
    absent cell takes its column's fill; an observed group outside a
    literal domain drops.  ``agg`` has one consumer, so nothing is pinned:

    1. one global ``agg`` computes each domain as an array, and the
       observed groups as one entries array (literal labels reach it
       through a ``union`` with a JVM-local relation, not a join);
    2. that row splits into a cell row (tag 0) and an entries row (tag 1);
       ``inline`` expands the first domain or the entries, then one
       ``explode`` per later key expands its domain on cell rows;
    3. one window partitioned by the keys and ordered by the tag, over
       the single partition the global ``agg`` left (no exchange, one
       sort on (keys, tag)): a cell takes the next row's values when that
       row is an entry.

    All of it runs in one task.  No row holds the grid, only the domains
    or the entries; Spark's 2 GB row cap bounds the entries at about
    5·10⁷ observed groups (ref: ``_factorize_multiple``,
    flox/core.py:2115-2166)."""
    keys = [k for k, _ in domains]
    values = list(fills)
    types = {f.name: f.dataType for f in agg.schema.fields}
    src = agg
    for i, (k, dom) in enumerate(domains):
        if isinstance(dom, list):
            labels = _literal_domain(agg.sparkSession, k, dom, types[k], f"__l{i}")
            src = src.unionByName(labels, allowMissingColumns=True)

    def domain(i, k, dom):
        # unsorted: the window below sorts the cells
        if dom is None:
            return F.collect_set(k)
        if isinstance(dom, list):
            return F.collect_set(f"__l{i}")
        return dom

    # label rows carry NULL keys; observed keys never are NULL
    entry = F.when(F.col(keys[0]).isNotNull(), F.struct(*keys, *values))
    one = src.agg(
        *[domain(i, k, dom).alias(f"__d{i}") for i, (k, dom) in enumerate(domains)],
        F.collect_list(entry).alias("__e"),
    )
    tag = F.col("__t")
    later = [f"__d{i}" for i in range(1, len(keys))]
    cells = F.transform(
        F.col("__d0"),
        lambda x: F.struct(
            x.alias(keys[0]),
            *[F.lit(None).cast(types[c]).alias(c) for c in keys[1:] + values],
        ),
    )
    # the row splits into a cell row and an entries row; the later domains
    # ride on the cell row only, so no entry row copies them
    split = F.inline(F.array(
        F.struct(F.lit(_CELL).alias("__t"), *[F.col(d) for d in later]),
        F.struct(F.lit(_ENTRY).alias("__t"), *[
            F.lit(None).cast(T.ArrayType(types[k])).alias(d) for k, d in zip(keys[1:], later)
        ]),
    ))
    rows = one.select("__d0", "__e", split).select(
        "__t", *later, F.inline(F.when(tag == _CELL, cells).otherwise(F.col("__e")))
    )
    for i, k in enumerate(keys[1:], 1):
        rows = rows.select(
            "__t", *later[i:], *keys[:i], *keys[i + 1:], *values,
            F.explode(
                F.when(tag == _CELL, F.col(f"__d{i}")).otherwise(F.array(F.col(k)))
            ).alias(k),
        )
    nxt = F.lead(F.struct("__t", *values)).over(Window.partitionBy(*keys).orderBy("__t"))
    hit = F.col("__n.__t") == _ENTRY
    return (
        rows.select("__t", *keys, nxt.alias("__n"))
        .where(tag == _CELL)
        .select(
            *keys,
            *[F.when(hit, F.col("__n")[v]).otherwise(f).alias(v) for v, f in fills.items()],
        )
    )
