"""Local emulation of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, compare row count + schema-ish + exact values
(order-insensitive, columns sorted by name).  Exact float equality is
intentional — it surfaces any cross-engine nondeterminism before the real
driver hashes it.

Usage: python scripts/check_driver_contract.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import math
import sys
import time

import os

# run from anywhere: the repo root is this script's parent directory
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from dask_groupby_spark.session import codegen_compile_count, get_spark
from dask_groupby_spark.sources import TABLES


def norm_cell(x):
    if x is None:
        return None
    if isinstance(x, float):
        if math.isnan(x):
            return "NaN"
        return x
    if hasattr(x, "isoformat"):
        return x.isoformat()
    import decimal

    if isinstance(x, decimal.Decimal):
        return float(x)
    return x


def normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((v is None, str(type(v)), str(v)) for v in t))
    return [cols[i] for i in order], out


# Outputs beyond this many rows are compared as a STREAMING order-
# insensitive digest (count + 96-bit sum of per-row md5 over the same
# canonical cell forms) instead of materializing both sides as Python
# tuple lists — the exact compare of a 6M-row × many-column output costs
# tens of GB of driver memory (observed: the r10 sf1 battery OOM-killed
# the gate on `rolling`).  Equality of (count, digest) is multiset
# equality up to md5 collisions; the canonicalization (norm_cell + repr,
# -0.0 folded to 0.0) is exactly as strict as the small-output compare.
DIGEST_OVER = int(os.environ.get("CONTRACT_DIGEST_OVER", "2000000"))


def _canon(row, order):
    vals = []
    for i in order:
        v = norm_cell(row[i])
        if isinstance(v, float) and v == 0.0:
            v = 0.0  # fold -0.0 (exact == treats them equal; repr does not)
        vals.append(v)
    return tuple(vals)


def _fold(acc, canon):
    import hashlib

    h = int.from_bytes(hashlib.md5(repr(canon).encode()).digest()[:12], "big")
    return (acc + h) % (1 << 96)


def digest_iter(row_iter, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    n, d = 0, 0
    for r in row_iter:
        d = _fold(d, _canon(tuple(r), order))
        n += 1
    return n, d


def duck_iter(cur, batch=65536):
    while True:
        chunk = cur.fetchmany(batch)
        if not chunk:
            return
        yield from chunk


def cost(spark, t0, c0):
    """Wall time since ``t0`` and the classes compiled since the compile
    count was ``c0`` (codegen cache misses; 0 when every plan shape was
    already compiled in this JVM).  Informational only."""
    return f"{time.time() - t0:.1f}s, {codegen_compile_count(spark) - c0} compiled"


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("contract-check")
    con = duckdb.connect()
    for t in TABLES:
        # tolerate partial SF dirs (e.g. the /tmp/sf1 soak set ships only
        # the big tables) — a query actually needing a missing view still
        # fails loudly at its own oracle
        p = os.path.join(sf, f"{t}.parquet")
        if os.path.isdir(p):
            # Spark-written table = a directory of part files
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')"
            )
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        else:
            print(f"note: {t}.parquet absent in {sf} — view skipped")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    print(f"== entry() smoke ==")
    t0 = time.time()
    res = entrymod.entry(spark)
    n = res.count()
    print(f"entry rows={n} schema={res.schema.simpleString()} ({time.time()-t0:.1f}s)")

    failures = []
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        t0 = time.time()
        c0 = codegen_compile_count(spark)
        try:
            sdf = fn(spark, sf)
            scols = sdf.columns
            # big outputs: STREAM the digest partition-by-partition
            # (toLocalIterator) — a single collect() of a 60M-row result
            # trips spark.driver.maxResultSize and holds the whole list
            # in driver memory (r12: target_encode at sf10).  The count
            # job is an acceptable second pass for a correctness tool.
            sdig = None
            if sdf.count() > DIGEST_OVER:
                sdig = digest_iter(
                    (tuple(r) for r in sdf.toLocalIterator()), scols
                )
                srows = None
            else:
                srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {type(e).__name__}: {str(e)[:300]}"))
            print(f"FAIL {name}: spark error {str(e)[:200]} ({cost(spark, t0, c0)})")
            continue
        if name not in oracles:
            n = sdig[0] if sdig else len(srows)
            print(f"ok?  {name}: rows-only ({n} rows, {cost(spark, t0, c0)}) [no oracle]")
            continue
        try:
            ores = con.execute(oracles[name])
            ocols = [d[0] for d in ores.description]
            if sdig is not None:
                on, od = digest_iter(duck_iter(ores), ocols)
                orows = None
            else:
                # cap the fetch: an oracle FAR bigger than the (small)
                # spark side is a row-count mismatch, not a reason to
                # materialize an unbounded list
                orows = ores.fetchmany(len(srows) + 1)
                if len(orows) > len(srows):
                    failures.append(
                        (name, f"ROWS: spark={len(srows)} duckdb>{len(srows)}")
                    )
                    print(
                        f"FAIL {name}: oracle returns more rows than spark "
                        f"({len(srows)}) ({cost(spark, t0, c0)})"
                    )
                    continue
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {type(e).__name__}: {str(e)[:300]}"))
            print(f"FAIL {name}: duckdb error {str(e)[:200]} ({cost(spark, t0, c0)})")
            continue
        if sorted(scols) != sorted(ocols):
            failures.append((name, f"COLUMNS: spark={sorted(scols)} duckdb={sorted(ocols)}"))
            print(f"FAIL {name}: column mismatch {sorted(scols)} vs {sorted(ocols)} ({cost(spark, t0, c0)})")
            continue
        if sdig is not None:
            sn, sd = sdig
            if sn != on:
                failures.append((name, f"ROWS: spark={sn} duckdb={on}"))
                print(f"FAIL {name}: row count {sn} vs {on} ({cost(spark, t0, c0)})")
                continue
            if sd != od:
                failures.append((name, f"VALUES(digest): {sn}-row digests differ"))
                print(f"FAIL {name}: streaming digests differ over {sn} rows ({cost(spark, t0, c0)})")
                continue
            print(f"PASS {name} ({sn} rows, digest, {cost(spark, t0, c0)})")
            continue
        _, snorm = normalize(scols, srows)
        _, onorm = normalize(ocols, orows)
        if len(snorm) != len(onorm):
            failures.append((name, f"ROWS: spark={len(snorm)} duckdb={len(onorm)}"))
            print(f"FAIL {name}: row count {len(snorm)} vs {len(onorm)} ({cost(spark, t0, c0)})")
            continue
        bad = [(a, b) for a, b in zip(snorm, onorm) if a != b]
        if bad:
            failures.append((name, f"VALUES: {len(bad)}/{len(snorm)} differ; first: {bad[0]}"))
            print(f"FAIL {name}: {len(bad)}/{len(snorm)} rows differ ({cost(spark, t0, c0)})")
            print("   spark :", bad[0][0])
            print("   duckdb:", bad[0][1])
            continue
        print(f"PASS {name} ({len(snorm)} rows, {cost(spark, t0, c0)})")

    skipped = len(qs) - checked
    suffix = f" ({skipped} skipped by filter)" if skipped else ""
    print(f"\n{checked - len(failures)}/{checked} passed{suffix}")
    for name, why in failures:
        print(f"  FAIL {name}: {why}")
    spark.stop()
    if only and checked == 0:
        # a filter that matches nothing must not read as a green gate
        # (r9 review: a typo'd key name exited 0 with zero comparisons run)
        print(f"ERROR: filter matched no queries: {sorted(only)}")
        sys.exit(2)
    unknown = set(only) - set(qs) if only else set()
    if unknown:
        print(f"ERROR: unknown query key(s) in filter: {sorted(unknown)}")
        sys.exit(2)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
