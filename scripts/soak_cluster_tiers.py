"""Tier-vs-tier sf1 clustering certificate (VERDICT r9 item #4).

``duplicate_clusters`` has two exact algorithms — union-find (one grouped
task when a driver-side row bound fits ``max_driver_edges``, else on the
driver over the counted or the star-contracted edges) and distributed
min-label propagation (``max_driver_edges=0``).  The persisted pair table
below has a bound, so the union-find side runs in one task.  The
sf1 exact-value oracle gate excludes ``dup_clusters``/``semdedup`` because
DuckDB's recursive transitive closure is impractical at ~1M edges, which
left the distributed tier as the one operator family with no exact
10x-scale evidence.  This probe closes that WITHOUT DuckDB: build the sf1
LSH candidate pairs once with the EXACT ``dup_clusters`` contract-key
configuration (num_hashes=4, bands=4, portable hasher, uncapped — the
~866k-pair graph whose DuckDB closure was impractical), run BOTH tiers on
the same persisted pair table, and assert the (id -> cluster_id) maps are
identical.

Usage: python scripts/soak_cluster_tiers.py [sf_dir]   (default /tmp/sf1,
built by scripts/make_sf1.py)
Prints one JSON line {pairs, vertices, clusters, mismatches,
driver_sec, distributed_sec}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dask_groupby_spark.operators.dedup import (
    duplicate_clusters,
    lsh_candidate_pairs,
    minhash_signatures,
)
from dask_groupby_spark.session import get_spark
from dask_groupby_spark.sources import load_table


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    spark = get_spark("soak-cluster-tiers")
    docs = load_table(spark, sf, "documents")
    sig = minhash_signatures(
        docs, "doc_id", "text", num_hashes=4, shingle_k=3, hasher="portable"
    )
    pairs = lsh_candidate_pairs(
        sig, num_hashes=4, bands=4, hasher="portable"
    ).persist()
    n_pairs = pairs.count()

    t0 = time.time()
    drv = duplicate_clusters(pairs, max_driver_edges=2_000_000_000).persist()
    n_vert = drv.count()
    t_drv = time.time() - t0

    t0 = time.time()
    dist = duplicate_clusters(pairs, max_driver_edges=0).persist()
    dist.count()
    t_dist = time.time() - t0

    mism = (
        drv.withColumnRenamed("cluster_id", "c_drv")
        .join(dist.withColumnRenamed("cluster_id", "c_dist"), on="id", how="full")
        .where(
            F.col("c_drv").isNull()
            | F.col("c_dist").isNull()
            | (F.col("c_drv") != F.col("c_dist"))
        )
        .count()
    )
    n_clusters = drv.select("cluster_id").distinct().count()
    print(
        json.dumps(
            {
                "pairs": n_pairs,
                "vertices": n_vert,
                "clusters": n_clusters,
                "mismatches": mism,
                "driver_sec": round(t_drv, 2),
                "distributed_sec": round(t_dist, 2),
            }
        )
    )
    spark.stop()
    if mism:
        sys.exit(1)


if __name__ == "__main__":
    main()
