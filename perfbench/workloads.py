"""The workloads: their sizes, inputs, oracles and call lists.

Each workload is a fixed sequence of calls (one *round*); the runner
repeats rounds.  A call names the layer class it exercises, the input rows
it consumes, a ``build`` that returns the library's lazy DataFrame, and a
``check`` against the oracle.  ``save=True`` calls materialize through
``sources.save_table`` instead of collecting.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import inputs
import oracle


@dataclass
class Call:
    name: str
    layer: str
    rows: int
    build: Callable  # build(tracer) -> DataFrame
    check: Callable  # check(pandas output) raises oracle.Mismatch
    save: bool = False


def write_parquet(df: pd.DataFrame, path: str, parts: int) -> None:
    """``df`` as a directory of ``parts`` parquet files, so Spark scans it
    with several tasks."""
    os.makedirs(path, exist_ok=True)
    for i, chunk in enumerate(np.array_split(np.arange(len(df)), parts)):
        t = pa.Table.from_pandas(df.iloc[chunk], preserve_index=False)
        pq.write_table(t, os.path.join(path, f"part-{i:03d}.parquet"))


class Workload:
    name = ""
    why = ""

    #: sizes of the small copy that supplies companion calls (see ``small``)
    small_sizes: dict = {}

    def small(self) -> "Workload":
        """A copy at small sizes.  A traced run of another workload runs its
        calls for the layer classes that workload does not exercise."""
        w = type(self)()
        w.__dict__.update(self.small_sizes)
        return w

    def generate(self, seed: int) -> dict:
        raise NotImplementedError

    def properties(self, data: dict) -> dict:
        raise NotImplementedError

    def expected(self, data: dict) -> dict:
        raise NotImplementedError

    def load(self, spark, data: dict, workdir: str, tr) -> dict:
        """Write the inputs where the library reads them from; returns
        whatever ``calls`` needs."""
        raise NotImplementedError

    def calls(self, spark, state: dict, exp: dict) -> list:
        raise NotImplementedError

    def quality(self, spark, state: dict, exp: dict) -> dict:
        """Traced-run quality ratios this workload can measure."""
        return {}


class Climatology(Workload):
    name = "climatology"
    why = ("ERA5-shaped parquet field read uncached per call: reductions at high and low "
           "cardinality, scans over small and huge groups; executor-bound")
    n_cells = 16
    bin_edges = [-80.0, -60.0, -40.0, -20.0, -10.0, 0.0, 10.0, 20.0, 30.0, 40.0, 60.0, 80.0]
    quantile_q = 0.9
    quantile_cells = 8
    rolling_window = 24
    # band groups of 3 cells × 8760 h still exceed ROWS_PER_CHUNK
    small_sizes = {"n_cells": 12, "quantile_cells": 4}

    def generate(self, seed):
        return {"climate": inputs.climate(seed, self.n_cells)}

    def properties(self, data):
        df = data["climate"]
        return {
            "rows": len(df),
            "cells": self.n_cells,
            "day_x_cell_groups": (inputs.HOURS // 24) * self.n_cells,
            "largest_cell_group": int(df["cell"].value_counts().max()),
            "largest_band_group": int(df["band"].value_counts().max()),
            "rows_per_chunk": inputs.ROWS_PER_CHUNK,
            "nan_share": round(float(df["t2m"].isna().mean()), 5),
        }

    def expected(self, data):
        df = data["climate"]
        return {
            **oracle.climatology(df, self.n_cells, self.bin_edges, self.quantile_q, self.quantile_cells),
            **oracle.scans(df, self.rolling_window),
        }

    def load(self, spark, data, workdir, tr):
        d = os.path.join(workdir, "in")
        write_parquet(data["climate"], os.path.join(d, "climate.parquet"), parts=8)
        return {"dir": d, "rows": len(data["climate"])}

    def calls(self, spark, state, exp):
        from dask_groupby_spark import Bins, groupby_reduce, groupby_rolling, groupby_scan, resample, xarray_reduce
        from dask_groupby_spark.sources import load_table

        def src(tr):
            # a fresh, uncached read on every call
            with tr.span("sources.load", own_jobs=True):
                return load_table(spark, state["dir"], "climate")

        n = state["rows"]
        qcells = self.quantile_cells
        rpc = inputs.ROWS_PER_CHUNK

        def c(name, layer, build, keys, rows=n, save=False):
            return Call(name, layer, rows, build, oracle.match(exp[name], keys), save)

        def scan(name, layer, by, func):
            return c(name, layer, lambda tr: groupby_scan(src(tr), by, func=func, value="t2m", idx_col="idx",
                                                          rows_per_chunk=rpc), ["idx"], save=True)

        return [
            c("month_nanmean", "reindex.expected",
              lambda tr: groupby_reduce(src(tr), "time.month", func="nanmean", value="t2m",
                                        expected_groups=(list(range(1, 13)),)),
              ["month"]),
            c("doy_cell_nanmean", "xdim.xarray_reduce",
              lambda tr: xarray_reduce(src(tr), "time.dayofyear", func="nanmean",
                                       dims=("time", "cell"), dim="time", value="t2m"),
              ["dayofyear", "cell"]),
            c("daily_resample", "resample.resample",
              lambda tr: resample(src(tr), "time", "1 day", "nanmax", "t2m", "cell"), ["bucket", "cell"]),
            c("bins_count", "binning.bins",
              lambda tr: groupby_reduce(src(tr), "t2m", func="count", value="t2m",
                                        expected_groups=(Bins(self.bin_edges),), fill_value=0),
              ["t2m_bin"]),
            c("cell_nanargmax", "core.reduce",
              lambda tr: groupby_reduce(src(tr), "cell", func="nanargmax", value="t2m", idx_col="idx"),
              ["cell"]),
            c("month_nanquantile", "aggregations.holistic",
              lambda tr: groupby_reduce(src(tr).where(f"cell < {qcells}"), "time.month",
                                        func="nanquantile", value="t2m",
                                        finalize_kwargs={"q": self.quantile_q}),
              ["month"], rows=n * qcells // self.n_cells),
            scan("cell_nancumsum", "core.scan_window", "cell", "nancumsum"),
            scan("band_ffill", "two_pass.scan", "band", "ffill"),
            c("cell_rolling_mean", "rolling.groupby_rolling",
              lambda tr: groupby_rolling(src(tr), "cell", funcs="mean", value="t2m", idx_col="idx",
                                         window=self.rolling_window, rows_per_chunk=rpc),
              ["idx"], save=True),
        ]


class Interactive(Workload):
    name = "interactive"
    why = ("many small calls on cached frames, reductions to pipeline operators: per-call cost "
           "is driver planning and job scheduling")
    n_rows = 100_000
    n_small = 10_000
    expected_k1 = list(range(-5, 55))
    fill = -1.0
    w_edges = [0.0, 0.5, 1.0, 2.0, 4.0, 8.0, 16.0, 64.0]
    n_base_docs = 1_000
    n_vec = 3_000
    n_queries = 30
    k = 10
    ivf_cells = 16
    ivf_nprobe = 4
    tfidf_k = 3
    small_sizes = {"n_rows": 3_000, "n_small": 500, "n_base_docs": 200, "n_vec": 400, "n_queries": 8}

    def generate(self, seed):
        df = inputs.keyed(seed, self.n_rows)
        vecs, queries = inputs.embeddings(seed + 1, self.n_vec, self.n_queries)
        return {
            "keyed": df,
            "small": df.iloc[: self.n_small].reset_index(drop=True),
            "docs": inputs.corpus(seed + 2, self.n_base_docs),
            "vecs": vecs,
            "queries": queries,
        }

    def properties(self, data):
        df, docs = data["keyed"], data["docs"]
        return {
            "rows": len(df),
            "small_rows": len(data["small"]),
            "k1_groups": int(df["k1"].nunique()),
            "k2_groups": int(df["k2"].nunique()),
            "largest_k1_group": int(df["k1"].value_counts().max()),
            "nan_share": round(float(df["v"].isna().mean()), 5),
            "docs": len(docs),
            "exact_duplicate_share": round(float(docs["text"].duplicated().mean()), 5),
            "near_duplicate_share": round(float((docs["kind"] == "near").mean()), 5),
            "vectors": len(data["vecs"]),
            "queries": len(data["queries"]),
            "dim": len(data["vecs"]["embedding"].iloc[0]),
        }

    def expected(self, data):
        vecs = np.stack(data["vecs"]["embedding"].to_numpy())
        qv = np.stack(data["queries"]["embedding"].to_numpy())
        qids = data["queries"]["vec_id"].to_numpy()
        return {
            **oracle.interactive(data["keyed"], data["small"], self.expected_k1, self.fill, self.w_edges),
            "dedup": oracle.dedup_check(data["docs"]),
            "exact_topk": oracle.cosine_topk(vecs, data["vecs"]["vec_id"].to_numpy(), qv, qids, self.k),
            "ivf": oracle.ivf_check(vecs, qv, qids, self.k),
            "tfidf": oracle.tfidf_top_terms(data["docs"], self.tfidf_k),
            "planted_pairs": _planted_pairs(data["docs"]),
        }

    def load(self, spark, data, workdir, tr):
        from dask_groupby_spark.sources import load_table

        d = os.path.join(workdir, "in")
        write_parquet(data["keyed"], os.path.join(d, "keyed.parquet"), parts=4)
        write_parquet(data["small"], os.path.join(d, "small.parquet"), parts=1)
        write_parquet(data["docs"][["doc_id", "text"]], os.path.join(d, "documents.parquet"), parts=4)
        write_parquet(data["vecs"], os.path.join(d, "embeddings.parquet"), parts=4)
        write_parquet(data["queries"], os.path.join(d, "queries.parquet"), parts=1)
        frames = {}
        for k in ("keyed", "small", "documents", "embeddings", "queries"):
            with tr.span("sources.load"):
                frames[k] = load_table(spark, d, k).cache()
        for f in frames.values():
            f.count()
        return {**frames, "n_docs": len(data["docs"])}

    def calls(self, spark, state, exp):
        from dask_groupby_spark import Bins, groupby_agg, groupby_reduce, groupby_scan, xarray_reduce
        from dask_groupby_spark.operators.dedup import near_deduplicate
        from dask_groupby_spark.operators.similarity import cosine_topk_blas, ivf_topk
        from dask_groupby_spark.operators.text import tfidf_top_terms

        df, small = state["keyed"], state["small"]
        docs, vecs, queries = state["documents"], state["embeddings"], state["queries"]
        n, n_docs = self.n_rows, state["n_docs"]

        def c(name, layer, build, keys, rows=n, **kw):
            return Call(name, layer, rows, build, oracle.match(exp[name], keys, **kw))

        return [
            c("k1_nansum", "core.reduce",
              lambda tr: groupby_reduce(df, "k1", func="nansum", value="v"), ["k1"]),
            c("k1k2_nanmean", "core.reduce",
              lambda tr: groupby_reduce(df, "k1", "k2", func="nanmean", value="v"), ["k1", "k2"]),
            c("expected_fill", "reindex.expected",
              lambda tr: groupby_reduce(df, "k1", func="nanmax", value="v",
                                        expected_groups=(self.expected_k1,), fill_value=self.fill),
              ["k1"]),
            c("bins_nansum", "binning.bins",
              lambda tr: groupby_reduce(df, "w", func="nansum", value="v",
                                        expected_groups=(Bins(self.w_edges),), fill_value=0.0),
              ["w_bin"]),
            c("k2_nanmedian", "aggregations.holistic",
              lambda tr: groupby_reduce(df, "k2", func="nanmedian", value="v"), ["k2"]),
            c("k1_nanargmax", "core.reduce",
              lambda tr: groupby_reduce(df, "k1", func="nanargmax", value="v", idx_col="idx"), ["k1"]),
            c("k1_first", "core.reduce",
              lambda tr: groupby_reduce(df, "k1", func="first", value="v", idx_col="idx"), ["k1"]),
            c("k1_agg", "core.reduce",
              lambda tr: groupby_agg(df, "k1", funcs=[("nansum", "v", "s"), ("nanmean", "w", "m"),
                                                      ("count", "v", "n"), ("nanstd", "v", "sd")]),
              ["k1"], rtol=1e-7),
            c("xdim_k1k2", "xdim.xarray_reduce",
              lambda tr: xarray_reduce(df, "k1", func="nanmean", dims=("idx", "k2"), dim="idx", value="w"),
              ["k1", "k2"]),
            c("small_scan", "core.scan_window",
              lambda tr: groupby_scan(small, "k2", func="nancumsum", value="v", idx_col="idx"),
              ["idx"], rows=self.n_small),
            Call("near_dedup", "operators.dedup", n_docs,
                 lambda tr: near_deduplicate(docs, "doc_id", "text"), exp["dedup"]),
            c("exact_topk", "operators.similarity",
              lambda tr: cosine_topk_blas(vecs, queries, k=self.k), ["query_id", "rank"], rows=self.n_vec),
            Call("ivf_topk", "operators.similarity", self.n_vec,
                 lambda tr: ivf_topk(vecs, queries, k=self.k, n_cells=self.ivf_cells, nprobe=self.ivf_nprobe),
                 exp["ivf"]),
            c("tfidf", "operators.text",
              lambda tr: tfidf_top_terms(docs, "doc_id", "text", k=self.tfidf_k), ["doc_id", "rank"],
              rows=n_docs),
        ]

    def quality(self, spark, state, exp) -> dict:
        """Traced-run ratios of useful outcomes to attempts, from one extra
        untimed call each: planted-duplicate pairs among the LSH candidate
        pairs (the hashing ``near_deduplicate`` uses by default), and IVF
        top-k recall against the exact top-k."""
        from dask_groupby_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures
        from dask_groupby_spark.operators.similarity import ivf_topk

        sig = minhash_signatures(state["documents"], "doc_id", "text")
        cand = lsh_candidate_pairs(sig).select("id_a", "id_b").toPandas()
        planted = exp["planted_pairs"]
        hits = sum((a, b) in planted for a, b in zip(cand["id_a"], cand["id_b"]))
        got = ivf_topk(state["embeddings"], state["queries"], k=self.k,
                       n_cells=self.ivf_cells, nprobe=self.ivf_nprobe).toPandas()
        return {
            "operators.dedup.pair_precision": hits / max(len(cand), 1),
            "operators.similarity.ivf_recall": oracle.recall(got, exp["exact_topk"]),
        }


def _planted_pairs(docs: pd.DataFrame) -> set:
    """Unordered id pairs within one family: the duplicates the generator
    planted (including base–copy and copy–copy pairs)."""
    pairs = set()
    for _, ids in docs.groupby("family")["doc_id"]:
        ids = sorted(ids)
        pairs.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1:])
    return pairs


WORKLOADS = {w.name: w for w in (Climatology(), Interactive())}
