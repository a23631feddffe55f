"""Expected outputs computed without the library (numpy, pandas, DuckDB)
from the same generated inputs, and the checks that compare a call's
output against them.  A check raises :class:`Mismatch`; the runner counts
that call as failed."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from inputs import HOURS, YEAR_START


class Mismatch(AssertionError):
    pass


#: share of planted duplicate families that near-duplicate removal may lose
#: to chance LSH collisions before the output counts as wrong
LOST_FAMILIES = 0.01


def match(expected: pd.DataFrame, keys: list, rtol: float = 1e-9):
    """Check that an output has exactly the expected rows: the same key
    tuples and, per value column, values equal within ``rtol`` (NaN equal to
    NaN).  Rows are aligned by sorting on ``keys``."""
    exp = expected.sort_values(keys, kind="stable").reset_index(drop=True)

    def check(got: pd.DataFrame) -> None:
        if len(got) != len(exp):
            raise Mismatch(f"{len(got)} rows, expected {len(exp)}")
        g = got.sort_values(keys, kind="stable").reset_index(drop=True)
        for c in exp.columns:
            if c not in g.columns:
                raise Mismatch(f"missing column {c!r}")
            a = g[c].to_numpy()
            b = exp[c].to_numpy()
            if c in keys or b.dtype.kind not in "fc":
                if a.dtype.kind == "f" or b.dtype.kind == "f":
                    a, b = a.astype(float), b.astype(float)
                ok = (a == b) | (pd.isna(a) & pd.isna(b))
            else:
                ok = np.isclose(a.astype(float), b, rtol=rtol, atol=1e-9, equal_nan=True)
            if not ok.all():
                i = int(np.flatnonzero(~ok)[0])
                raise Mismatch(f"column {c!r} row {i}: got {a[i]!r}, expected {b[i]!r}")

    return check


# --- climatology -------------------------------------------------------

def _cube(df: pd.DataFrame, n_cells: int) -> np.ndarray:
    """The time-major value column as a (day, hour, cell) cube."""
    return df["t2m"].to_numpy().reshape(HOURS // 24, 24, n_cells)


def _per_group(df: pd.DataFrame, key, values: str, fn) -> pd.DataFrame:
    """``fn`` applied to each group's values, with numpy, not pandas'
    own reductions (pandas skips NaN by default, numpy does not)."""
    out = {k: fn(g.to_numpy()) for k, g in df.groupby(key, sort=True)[values]}
    return pd.DataFrame({"key": list(out), "val": list(out.values())})


def climatology(df: pd.DataFrame, n_cells: int, bin_edges, quantile_q: float,
                quantile_cells: int) -> dict:
    cube = _cube(df, n_cells)
    month = df["time"].dt.month.to_numpy()
    days = np.arange(HOURS // 24)
    out = {}
    m = _per_group(df.assign(month=month), "month", "t2m", np.nanmean)
    out["month_nanmean"] = m.rename(columns={"key": "month", "val": "nanmean"})
    daily_mean = np.nanmean(cube, axis=1)
    out["doy_cell_nanmean"] = pd.DataFrame({
        "dayofyear": np.repeat(days + 1, n_cells).astype(np.int64),
        "cell": np.tile(np.arange(n_cells), len(days)),
        "nanmean": daily_mean.ravel(),
    })
    daily_max = np.nanmax(cube, axis=1)
    out["daily_resample"] = pd.DataFrame({
        "bucket": np.repeat(YEAR_START + (days * 24).astype("timedelta64[h]"), n_cells).astype("datetime64[us]"),
        "cell": np.tile(np.arange(n_cells), len(days)),
        "nanmax": daily_max.ravel(),
    })
    v = df["t2m"].to_numpy()
    v = v[~np.isnan(v)]
    codes = np.searchsorted(np.asarray(bin_edges), v, side="left") - 1  # (a, b]
    inside = (codes >= 0) & (codes < len(bin_edges) - 1)
    counts = np.bincount(codes[inside], minlength=len(bin_edges) - 1)
    out["bins_count"] = pd.DataFrame({"t2m_bin": np.arange(len(counts)), "count": counts})
    flat = cube.reshape(HOURS, n_cells)
    hour_of_max = np.nanargmax(flat, axis=0)
    out["cell_nanargmax"] = pd.DataFrame({
        "cell": np.arange(n_cells),
        "nanargmax": hour_of_max * n_cells + np.arange(n_cells),
    })
    sub = df[df["cell"] < quantile_cells]
    q = _per_group(sub.assign(month=month[sub.index]), "month", "t2m",
                   lambda a: np.nanquantile(a, quantile_q))
    out["month_nanquantile"] = q.rename(columns={"key": "month", "val": "nanquantile"})
    return out


def scans(df: pd.DataFrame, rolling_window: int) -> dict:
    """Scan results aligned on ``idx``.  ``nancumsum`` is numpy's
    (a NaN adds 0, the running sum shows through), ``ffill`` is pandas'
    (leading NaN stays NaN), rolling mean is pandas' with
    ``min_periods=1``."""
    v = df["t2m"]
    base = df[["idx"]].copy()

    def with_col(name, values):
        return base.assign(**{name: np.asarray(values)})

    filled = v.fillna(0.0)
    return {
        "cell_nancumsum": with_col("nancumsum", filled.groupby(df["cell"]).cumsum()),
        "band_ffill": with_col("ffill", v.groupby(df["band"]).ffill()),
        "cell_rolling_mean": with_col(
            "rolling_mean",
            v.groupby(df["cell"]).rolling(rolling_window, min_periods=1).mean()
            .reset_index(level=0, drop=True).sort_index(),
        ),
    }


# --- interactive --------------------------------------------------------

def interactive(df: pd.DataFrame, small: pd.DataFrame, expected_k1: list, fill: float,
                w_edges) -> dict:
    out = {}
    g1 = df.groupby("k1", sort=True)

    def per_k1(fn, col="v"):
        return np.array([fn(x[col].to_numpy()) for _, x in g1])

    k1 = np.array(sorted(df["k1"].unique()))
    out["k1_nansum"] = pd.DataFrame({"k1": k1, "nansum": per_k1(np.nansum)})
    grid = pd.MultiIndex.from_product([k1, sorted(df["k2"].unique())], names=["k1", "k2"])
    mean2 = df.groupby(["k1", "k2"])["v"].mean().reindex(grid)  # pandas mean skips NaN
    out["k1k2_nanmean"] = mean2.rename("nanmean").reset_index()
    mx = pd.Series(per_k1(np.nanmax), index=k1).reindex(expected_k1, fill_value=fill)
    out["expected_fill"] = pd.DataFrame({"k1": expected_k1, "nanmax": mx.to_numpy()})
    edges = np.asarray(w_edges)
    codes = np.searchsorted(edges, df["w"].to_numpy(), side="left") - 1
    keep = (codes >= 0) & (codes < len(edges) - 1)
    sums = np.zeros(len(edges) - 1)
    np.add.at(sums, codes[keep], np.nan_to_num(df["v"].to_numpy()[keep]))
    out["bins_nansum"] = pd.DataFrame({"w_bin": np.arange(len(sums)), "nansum": sums})
    k2 = df.groupby("k2", sort=True)
    out["k2_nanmedian"] = pd.DataFrame({
        "k2": sorted(df["k2"].unique()),
        "nanmedian": [np.nanmedian(x["v"].to_numpy()) for _, x in k2],
    })

    def at_idx(pick):
        return np.array([x["idx"].to_numpy()[pick(x)] for _, x in g1])

    out["k1_nanargmax"] = pd.DataFrame({"k1": k1, "nanargmax": at_idx(lambda x: np.nanargmax(x["v"].to_numpy()))})
    out["k1_first"] = pd.DataFrame({
        "k1": k1,
        "first": [x["v"].to_numpy()[np.argmin(x["idx"].to_numpy())] for _, x in g1],
    })
    out["k1_agg"] = pd.DataFrame({
        "k1": k1,
        "s": per_k1(np.nansum),
        "m": per_k1(np.nanmean, "w"),
        "n": per_k1(lambda a: np.count_nonzero(~np.isnan(a))),
        "sd": per_k1(np.nanstd),
    })
    out["xdim_k1k2"] = df.groupby(["k1", "k2"])["w"].mean().reindex(grid).rename("nanmean").reset_index()
    s = small.sort_values("idx")
    out["small_scan"] = pd.DataFrame({
        "idx": s["idx"].to_numpy(),
        "nancumsum": s["v"].fillna(0.0).groupby(s["k2"]).cumsum().to_numpy(),
    })
    return out


# --- pipeline operators -----------------------------------------------

def cosine_topk(corpus: np.ndarray, corpus_ids, queries: np.ndarray, query_ids, k: int) -> pd.DataFrame:
    """Brute-force cosine top-k, ties by neighbor id ascending."""
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = qn @ cn.T
    rows = []
    for qi, qid in enumerate(query_ids):
        order = np.lexsort((corpus_ids, -sims[qi]))[:k]
        for r, j in enumerate(order, 1):
            rows.append((qid, corpus_ids[j], sims[qi, j], r))
    return pd.DataFrame(rows, columns=["query_id", "neighbor_id", "cosine", "rank"])


def tfidf_top_terms(docs: pd.DataFrame, k: int) -> pd.DataFrame:
    """sklearn smooth-idf top-k terms per document, in DuckDB SQL."""
    con = duckdb.connect()
    try:
        con.register("docs", docs[["doc_id", "text"]])
        return con.execute(f"""
            with tok as (
                select doc_id, unnest(regexp_split_to_array(text, '[ \\t\\n\\r\\f]+')) as term
                from docs),
            tf as (select doc_id, term, count(*) as tf from tok where term <> ''
                   group by doc_id, term),
            dfreq as (select term, count(*) as df from tf group by term),
            n as (select count(*) as n from docs),
            scored as (
                select tf.doc_id, tf.term, tf.tf,
                       tf.tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0) as tfidf
                from tf join dfreq using (term) cross join n),
            ranked as (
                select *, row_number() over (partition by doc_id order by tfidf desc, term asc) as rank
                from scored)
            select doc_id, term, tf, tfidf, rank from ranked where rank <= {k}
        """).df()
    finally:
        con.close()


def dedup_check(docs: pd.DataFrame):
    """near_deduplicate keeps one member per MinHash-LSH cluster.  Exact
    copies share every band bucket, so every survivor is a distinct input
    document and no two survivors have the same text.  Unrelated documents
    may share a bucket by chance (LSH does not verify its candidates), which
    can merge a whole family (a base document and the copies planted from
    it) into another one; more than ``LOST_FAMILIES`` of the families losing
    every member is a failure."""
    text_of = dict(zip(docs["doc_id"], docs["text"]))
    family_of = dict(zip(docs["doc_id"], docs["family"]))
    n_families = docs["family"].nunique()
    allowed = max(1, int(LOST_FAMILIES * n_families))

    def check(got: pd.DataFrame) -> None:
        ids = got["doc_id"].to_numpy()
        if len(set(ids)) != len(ids) or not set(ids) <= text_of.keys():
            raise Mismatch("survivors are not distinct input documents")
        texts = [text_of[i] for i in ids]
        if len(set(texts)) != len(texts):
            raise Mismatch("an exact duplicate survived")
        lost = n_families - len({family_of[i] for i in ids})
        if lost > allowed:
            raise Mismatch(f"{lost} families lost every member, at most {allowed} may")

    return check


def ivf_check(corpus: np.ndarray, queries: np.ndarray, query_ids, k: int):
    """An approximate search may miss neighbors but may not invent them:
    each returned pair's cosine is the true one, ranks run 1..n per query
    in descending cosine, and no query gets more than ``k`` rows."""
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    qpos = {q: i for i, q in enumerate(query_ids)}

    def check(got: pd.DataFrame) -> None:
        if got.empty:
            raise Mismatch("no neighbors returned")
        qi = got["query_id"].map(qpos).to_numpy()
        if np.isnan(qi.astype(float)).any():
            raise Mismatch("unknown query id")
        true = np.einsum("ij,ij->i", qn[qi.astype(int)], cn[got["neighbor_id"].to_numpy()])
        if not np.allclose(true, got["cosine"].to_numpy(), rtol=1e-9, atol=1e-9):
            raise Mismatch("a returned cosine is not the true cosine")
        for _, g in got.sort_values(["query_id", "rank"]).groupby("query_id"):
            if len(g) > k or list(g["rank"]) != list(range(1, len(g) + 1)):
                raise Mismatch("ranks are not 1..n with n <= k")
            if (np.diff(g["cosine"].to_numpy()) > 1e-12).any():
                raise Mismatch("ranks are not in descending cosine order")

    return check


def recall(got: pd.DataFrame, exact: pd.DataFrame) -> float:
    """|approximate top-k ∩ exact top-k| / |exact top-k|."""
    a = set(zip(got["query_id"], got["neighbor_id"]))
    b = set(zip(exact["query_id"], exact["neighbor_id"]))
    return len(a & b) / max(len(b), 1)
