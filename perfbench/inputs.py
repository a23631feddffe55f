"""Seeded input generators.  Every generator draws from one
``numpy.random.default_rng(seed)``, so the same seed gives byte-identical
inputs and another seed different ones.  Sizes are fixed per workload
(only values move with the seed), so runs with different seeds do the
same amount of work.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

#: one non-leap year of hourly steps, so day-of-year runs 1..365 and the
#: (day, hour, cell) reshape used by the oracles is exact
YEAR_START = np.datetime64("2021-01-01T00", "h")
HOURS = 365 * 24
NAN_SHARE = 0.05
#: the scan calls pin this chunk size, so the four band groups exceed it
#: (two_pass tier) while every cell group stays far below it (window tier)
ROWS_PER_CHUNK = 20_000
N_BANDS = 4
N_K1, N_K2 = 50, 7
DUP_SHARE = NEAR_SHARE = 0.05
N_WORDS = 4000
DOC_WORDS = (20, 60)
DIM, N_CENTERS = 64, 32


def climate(seed: int, n_cells: int) -> pd.DataFrame:
    """An ERA5-shaped hourly field flattened time-major: one row per
    (time, cell), a seasonal + diurnal 2 m temperature with noise and a
    ``NAN_SHARE`` of missing values.  ``idx`` is the global row order,
    ``band`` splits the cells into ``N_BANDS`` huge groups."""
    rng = np.random.default_rng(seed)
    t = np.arange(HOURS)
    lat = rng.uniform(-60.0, 60.0, n_cells)
    offset = rng.normal(0.0, 4.0, n_cells)
    doy = t // 24
    season = -np.cos(2 * np.pi * doy / 365.0)[:, None] * (lat / 3.0)[None, :]
    diurnal = 4.0 * np.sin(2 * np.pi * (t % 24) / 24.0)[:, None]
    base = 12.0 - np.abs(lat)[None, :] / 4.0 + offset[None, :]
    t2m = (base + season + diurnal + rng.normal(0.0, 3.0, (HOURS, n_cells))).ravel()
    t2m[rng.random(t2m.size) < NAN_SHARE] = np.nan
    cell = np.tile(np.arange(n_cells, dtype=np.int32), HOURS)
    return pd.DataFrame(
        {
            "time": np.repeat(YEAR_START + t.astype("timedelta64[h]"), n_cells).astype("datetime64[us]"),
            "cell": cell,
            "band": (cell % N_BANDS).astype(np.int32),
            "t2m": t2m,
            "idx": np.arange(t2m.size, dtype=np.int64),
        }
    )


def keyed(seed: int, n_rows: int) -> pd.DataFrame:
    """A small keyed table for interactive calls: ``k1`` × ``k2`` labels
    (k1 skewed towards low labels), two values with NaN, a global ``idx``."""
    rng = np.random.default_rng(seed)
    k1 = np.minimum(rng.geometric(1.0 / (N_K1 / 3.0), n_rows) - 1, N_K1 - 1)
    v = rng.normal(10.0, 5.0, n_rows)
    v[rng.random(n_rows) < NAN_SHARE] = np.nan
    return pd.DataFrame(
        {
            "k1": k1.astype(np.int32),
            "k2": rng.integers(0, N_K2, n_rows, dtype=np.int32),
            "v": v,
            "w": rng.exponential(2.0, n_rows),
            "idx": rng.permutation(n_rows).astype(np.int64),
        }
    )


def _words(rng, n_words: int) -> np.ndarray:
    """A vocabulary of distinct pseudo-words, 3 to 9 lowercase letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: set = set()
    while len(out) < n_words:
        for ln in rng.integers(3, 10, n_words):
            out.add("".join(rng.choice(letters, ln)))
    return np.array(sorted(out)[:n_words])


def corpus(seed: int, n_base: int) -> pd.DataFrame:
    """Documents with planted duplicates.  ``family`` ties every copy to
    the base document it was made from; ``kind`` is ``base``, ``exact``
    (identical text) or ``near`` (one word at the end replaced).  Ids are
    shuffled, so a copy's id says nothing about its base."""
    rng = np.random.default_rng(seed)
    vocab = _words(rng, N_WORDS)
    # Zipf-like word frequencies, so tf-idf scores are spread out
    p = 1.0 / np.arange(1, N_WORDS + 1) ** 0.8
    p /= p.sum()
    lens = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, n_base)
    texts = [" ".join(rng.choice(vocab, n, p=p)) for n in lens]
    family = list(range(n_base))
    kind = ["base"] * n_base
    n_exact = int(n_base * DUP_SHARE)
    n_near = int(n_base * NEAR_SHARE)
    for f in rng.choice(n_base, n_exact, replace=True):
        texts.append(texts[f])
        family.append(int(f))
        kind.append("exact")
    for f in rng.choice(n_base, n_near, replace=True):
        words = texts[f].split(" ")
        words[-1] = vocab[rng.integers(N_WORDS)]
        texts.append(" ".join(words))
        family.append(int(f))
        kind.append("near")
    ids = rng.permutation(len(texts)).astype(np.int64)
    return pd.DataFrame({"doc_id": ids, "text": texts, "family": family, "kind": kind})


def embeddings(seed: int, n_vec: int, n_queries: int):
    """Clustered embeddings (a Gaussian mixture, so an IVF index has real
    cells to probe) and queries drawn from the same mixture.  Query ids
    never collide with corpus ids."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(0.0, 1.0, (N_CENTERS, DIM))

    def draw(n):
        return centers[rng.integers(0, N_CENTERS, n)] + rng.normal(0.0, 0.35, (n, DIM))

    corpus_vecs = draw(n_vec)
    query_vecs = draw(n_queries)
    return (
        pd.DataFrame({"vec_id": np.arange(n_vec, dtype=np.int64), "embedding": list(corpus_vecs)}),
        pd.DataFrame({"vec_id": np.arange(n_queries, dtype=np.int64) + 10_000_000, "embedding": list(query_vecs)}),
    )
