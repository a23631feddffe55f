"""Reindex a grouped result onto ``expected_groups`` (ref: flox ``reindex_``,
flox/core.py:667-712): groups present in the expected domain but absent from
the data appear with ``fill_value``; with multiple groupers the output is the
dense cross-product grid (ref: ``_factorize_multiple`` raveling,
flox/core.py:2115-2166).

Spark realization: a RIGHT OUTER join from the aggregated result onto the
expected-groups dimension table (see :func:`reindex_result` for why no
strategy is forced).  The aggregated result is |groups| rows — orders of
magnitude smaller than the input — and the expected table is built from the
client's labels as a JVM-local relation, so this join never shuffles big
data and never starts a Python worker.
"""

from __future__ import annotations

from functools import reduce
from typing import Optional, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

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
    spark: SparkSession, name: str, labels: list, ktype: T.DataType
) -> DataFrame:
    """One client-literal label domain as a JVM-local relation: an Arrow
    table handed to ``createDataFrame``, which plans as a ``LocalRelation``
    (``LocalTableScan``) and builds in O(1) Py4J round trips whatever its
    size.

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
        pa.table({name: arr}), schema=T.StructType([T.StructField(name, ktype)])
    )


def expected_groups_df(
    spark: SparkSession,
    key_names: Sequence[str],
    expected: Sequence[Optional[list]],
    key_types: Sequence[T.DataType],
    result: Optional[DataFrame] = None,
) -> Optional[DataFrame]:
    """Build the dense expected-groups dimension table (cross product of the
    per-grouper expected domains, each a JVM-local relation —
    :func:`_literal_domain`).  A grouper with ``None`` expected uses its
    *observed* labels from ``result`` instead (flox: given indexes are
    honored per-grouper, the rest are discovered —
    flox/core.py:2087-2107/2115-2166); with no ``result`` available the
    caller falls back to the fully-observed grid."""
    dims = []
    for name, vals, ktype in zip(key_names, expected, key_types):
        if vals is None:
            if result is None:
                return None
            dims.append(result.select(name).distinct())
        else:
            dims.append(_literal_domain(spark, name, vals, ktype))
    # the hint fixes the build side: left to AQE, it broadcast whichever
    # side finished first, so the join code (and compiled class) changed
    # from call to call
    return reduce(lambda a, b: a.crossJoin(b.hint("broadcast")), dims)


def observed_grid(result: DataFrame, key_names: Sequence[str]) -> DataFrame:
    """Dense grid of observed per-grouper values (multi-by semantics of the
    reference: output is the cross product of each grouper's found labels,
    flox/core.py:2115-2166).

    Plan-shape note (deliberate): Catalyst collapses each
    ``result.select(k).distinct()`` through the aggregate into a direct
    column-pruned distinct on the source scan, so a 2-key grid costs two
    extra *key-column-only* scans.  The alternative — one
    ``agg(collect_set(k)…)`` pass — would be a single scan but concentrates
    every distinct value of each key into ONE row, which OOMs on a
    high-cardinality grouper at 100 TB.  Pruned scans + map-side partial
    distinct stay bounded at any cardinality, so we keep them.
    """
    dims = [result.select(k).distinct() for k in key_names]
    # build side fixed as in expected_groups_df
    return reduce(lambda a, b: a.crossJoin(b.hint("broadcast")), dims)


def reindex_result(
    result: DataFrame,
    expected_df: DataFrame,
    key_names: Sequence[str],
) -> DataFrame:
    """RIGHT OUTER JOIN result → expected; missing groups carry NULL marker
    column ``__present`` for downstream fill handling.

    No join-strategy hint, deliberately.  An outer join cannot broadcast
    its *preserved* side (Spark supports only BuildLeft for RightOuter /
    BuildRight for LeftOuter — a broadcast hint on the expected side is
    rejected with a HintErrorLogger warning), so the only forceable
    broadcast is the aggregated result — which is |groups| rows and a
    driver OOM at 100 TB with a high-cardinality grouper (the bug this
    formulation replaced: the old expected-LEFT-JOIN-broadcast(result)
    plan both paid an extra broadcast-build job re-executing the
    aggregation AND carried that OOM).  Left to AQE, the runtime choice is
    exactly right: a small aggregate gets broadcast from its actual
    runtime size, a huge one falls back to a shuffled join that scales.
    """
    return result.join(expected_df, on=list(key_names), how="right_outer")
