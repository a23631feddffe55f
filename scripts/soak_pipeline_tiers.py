"""Tier-vs-tier sf1 certificates for the three COMPOSED closure-class
pipelines (VERDICT r10 item #4) — `keep_by_dedup`, `semdedup`,
`leak_split`.

These three contract keys are sf1-excluded from the oracle battery
because their DuckDB oracles embed the recursive-CTE transitive closure
over ~866k sf1 candidate pairs (impractical).  `dup_clusters` already
holds the tier-vs-tier certificate for the clustering PRIMITIVE
(`scripts/soak_cluster_tiers.py`: union-find ≡ distributed min-label on
the same sf1 pair table).  This script extends that evidence to the
composed pipelines END-TO-END: each pipeline is run TWICE with the
clustering step forced to each algorithm (everything else —
signatures, LSH, quality keeper windows, split hashing — identical and
deterministic), and the FINAL decisions are compared as exact multisets
(`exceptAll` both ways):

- keep_by_dedup: the surviving (doc_id, quality) rows of
  `near_deduplicate(keep_by=)` under the exact contract-key config,
- semdedup: the surviving (vec_id, label) rows of
  `semantic_deduplicate` under the exact contract-key config,
- leak_split: the (doc_id, cluster_id, split) assignment of
  `leakage_safe_split` under the exact contract-key config — including
  the invariant the operator exists for (no cluster straddles the
  split), which is re-asserted on both tiers.

The algorithm is forced by patching `_clusters`, the body behind
`duplicate_clusters` that `near_deduplicate` also calls, at its defining
module (`dask_groupby_spark.operators.dedup`): its `max_driver_edges`
argument is overridden.  Every pipeline resolves it from there at call
time, so the REAL pipeline code runs unmodified; nothing is
re-implemented here that could drift from the library.

Usage: python scripts/soak_pipeline_tiers.py [sf_dir] [pipeline ...]
(default /tmp/sf1, all three pipelines).  Prints one JSON line per
pipeline {pipeline, rows_driver, rows_distributed, mismatches,
driver_sec, distributed_sec} and exits non-zero on any mismatch.
A pipeline filter matters at sf10+: keep_by_dedup's contract config is
bucket-capped + spill-guarded so it scales to any SF, while leak_split
and the semdedup scorer pin UNCAPPED pair configs whose candidate
stream grows ~quadratically with bucket occupancy — run those at sf1.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import dask_groupby_spark.operators.dedup as dd
from dask_groupby_spark.operators.curate import leakage_safe_split
from dask_groupby_spark.operators.similarity import semantic_deduplicate
from dask_groupby_spark.session import get_spark
from dask_groupby_spark.sources import load_table

_ORIG = dd._clusters

# far above any sf1 pair count -> always a union-find (one task on a
# bounded edge list, else the driver)
DRIVER_TIER = 2_000_000_000
# 0 is falsy in the tier guard -> always the distributed min-label tier
DISTRIBUTED_TIER = 0


def _forced(max_driver_edges):
    @functools.wraps(_ORIG)
    def run(pairs, id_a, id_b, max_iter, _mde, edge_bound):
        return _ORIG(pairs, id_a, id_b, max_iter, max_driver_edges, edge_bound)

    return run


def _certify(spark, name, build, check=None):
    """Run `build()` under each forced tier, compare exact multisets."""
    out = {"pipeline": name}
    frames = {}
    for tier_name, tier in (
        ("driver", DRIVER_TIER),
        ("distributed", DISTRIBUTED_TIER),
    ):
        dd._clusters = _forced(tier)
        try:
            t0 = time.time()
            res = build().persist()
            out[f"rows_{tier_name}"] = res.count()
            out[f"{tier_name}_sec"] = round(time.time() - t0, 2)
            frames[tier_name] = res
            if check is not None:
                check(res)
        finally:
            dd._clusters = _ORIG
    a, b = frames["driver"], frames["distributed"]
    out["mismatches"] = a.exceptAll(b).count() + b.exceptAll(a).count()
    print(json.dumps(out), flush=True)
    a.unpersist()
    b.unpersist()
    return out["mismatches"]


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    only = set(sys.argv[2:])
    # The FORCED driver union-find tier collects the whole pair table —
    # above ~1 GiB of pairs (sf10) that trips the default
    # spark.driver.maxResultSize, which is precisely the bound the
    # library's 2M-edge default tier switch protects against.  The soak's
    # whole point is running BOTH exact tiers side by side, so its own
    # session raises the limit (soak-only; library defaults unchanged).
    spark = get_spark(
        "soak-pipeline-tiers",
        extra_conf={"spark.driver.maxResultSize": "16g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")

    def wanted(name):
        return not only or name in only

    bad = 0

    # --- keep_by_dedup (contract config: q_keep_by_dedup) ---------------
    docs_q = docs.withColumn("q", F.length("text").cast("bigint"))

    def build_keep():
        kept = dd.near_deduplicate(
            docs_q,
            num_hashes=4,
            bands=4,
            shingle_k=3,
            hasher="portable",
            keep_by="q",
        )
        return kept.select("doc_id", F.col("q").alias("quality"))

    if wanted("keep_by_dedup"):
        bad += _certify(spark, "keep_by_dedup", build_keep)

    # --- semdedup (contract config: q_semdedup) --------------------------
    def build_sem():
        kept = semantic_deduplicate(emb, threshold=0.25, dim=64, n_planes=4)
        return kept.select("vec_id", "label")

    if wanted("semdedup"):
        bad += _certify(spark, "semdedup", build_sem)

    # --- leak_split (contract config: q_leak_split) ----------------------
    def build_split():
        sig = dd.minhash_signatures(
            docs, "doc_id", "text", num_hashes=4, shingle_k=3, hasher="portable"
        )
        pairs = dd.lsh_candidate_pairs(
            sig, num_hashes=4, bands=4, hasher="portable"
        )
        out = leakage_safe_split(docs, pairs, 0.25, hasher="portable", seed="s1")
        return out.select("doc_id", "cluster_id", "split")

    def check_no_straddle(res):
        straddle = (
            res.where(F.col("cluster_id").isNotNull())
            .groupBy("cluster_id")
            .agg(F.count_distinct("split").alias("n"))
            .where(F.col("n") > 1)
            .count()
        )
        assert straddle == 0, f"{straddle} clusters straddle the split"

    if wanted("leak_split"):
        bad += _certify(spark, "leak_split", build_split, check=check_no_straddle)

    spark.stop()
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
