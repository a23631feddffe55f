"""Tests of the benchmark itself (no Spark session needed).  From the
repository root:  python -m pytest perfbench -q -p no:cacheprovider
"""

import io
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import inputs  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import count_plan_nodes  # noqa: E402


def _bytes(data: dict) -> bytes:
    buf = io.BytesIO()
    for name in sorted(data):
        df = data[name]
        buf.write(name.encode())
        buf.write(pd.util.hash_pandas_object(df.astype({c: str for c in df.columns if df[c].dtype == object}),
                                             index=True).to_numpy().tobytes())
    return buf.getvalue()


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_generator_is_seeded(name):
    wl = workloads.WORKLOADS[name]
    assert _bytes(wl.generate(7)) == _bytes(wl.generate(7))
    assert _bytes(wl.generate(7)) != _bytes(wl.generate(8))


def test_written_inputs_are_byte_identical(tmp_path):
    df = inputs.keyed(3, 1000)
    for d in ("a", "b"):
        workloads.write_parquet(df, str(tmp_path / d), parts=2)
    for f in ("part-000.parquet", "part-001.parquet"):
        assert (tmp_path / "a" / f).read_bytes() == (tmp_path / "b" / f).read_bytes()


def test_corpus_plants_duplicates():
    docs = inputs.corpus(1, 400)
    assert docs["doc_id"].is_unique
    assert docs["text"].duplicated().mean() > 0.03
    assert (docs["kind"] == "near").sum() == 20


def _perturb(df: pd.DataFrame) -> pd.DataFrame:
    """Change one value of the last column."""
    out = df.copy()
    c = out.columns[-1]
    v = out[c].to_numpy().copy()
    i = len(v) // 2
    if v.dtype.kind == "M":
        v[i] = v[i] + np.timedelta64(1, "h")
    elif v.dtype.kind == "f" and np.isnan(v[i]):
        v[i] = 1.0
    else:
        v[i] = v[i] + 1 if v.dtype.kind in "iu" else v[i] * 1.001 + 0.01
    out[c] = v
    return out


def _stub_calls(wl, exp):
    """The workload's call list, built without a session: builds are lazy,
    so only the checks are used here."""
    state = {"dir": None, "rows": 1, "n_docs": 1}
    state.update({k: None for k in ("keyed", "small", "documents", "embeddings", "queries")})
    return wl.calls(None, state, exp)


@pytest.fixture(scope="module")
def small_workloads():
    """The workloads at their small (companion) sizes."""
    out = {}
    for wl in (w.small() for w in workloads.WORKLOADS.values()):
        data = wl.generate(5)
        out[wl.name] = (wl, data, wl.expected(data))
    return out


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_oracle_accepts_itself_and_catches_a_perturbed_result(small_workloads, name):
    wl, data, exp = small_workloads[name]
    checked = 0
    for call in _stub_calls(wl, exp):
        if call.name not in exp or not isinstance(exp[call.name], pd.DataFrame):
            continue
        good = exp[call.name].sample(frac=1.0, random_state=0)  # row order is free
        call.check(good)
        with pytest.raises(oracle.Mismatch):
            call.check(_perturb(good))
        with pytest.raises(oracle.Mismatch):
            call.check(good.iloc[1:])
        checked += 1
    assert checked == (9 if name == "climatology" else 12)


def test_dedup_check(small_workloads):
    _, data, exp = small_workloads["interactive"]
    docs = data["docs"]
    keep = docs.drop_duplicates("text")[["doc_id", "text"]]
    exp["dedup"](keep)
    with pytest.raises(oracle.Mismatch):  # an exact duplicate survived
        exp["dedup"](docs[["doc_id", "text"]])
    families = docs["family"].drop_duplicates()
    one = docs.loc[docs["family"] == families.iloc[0], "doc_id"]
    exp["dedup"](keep[~keep["doc_id"].isin(one)])  # one chance LSH merge is tolerated
    many = docs.loc[docs["family"].isin(families.iloc[:5]), "doc_id"]
    with pytest.raises(oracle.Mismatch):  # five of 200 families removed
        exp["dedup"](keep[~keep["doc_id"].isin(many)])


def test_ivf_check_and_recall(small_workloads):
    _, _, exp = small_workloads["interactive"]
    exact = exp["exact_topk"]
    exp["ivf"](exact)
    assert oracle.recall(exact, exact) == 1.0
    bad = exact.copy()
    bad.loc[0, "cosine"] += 0.01
    with pytest.raises(oracle.Mismatch):
        exp["ivf"](bad)
    assert oracle.recall(exact.iloc[::2], exact) == pytest.approx(0.5)


def test_tail_reads_the_highest_percentile_with_ten_samples_beyond():
    lat = list(range(1, 101))
    assert run.tail(lat) == (90, 90.0, 100)
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


PLAN = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 3
   +- *(3) Sort [k#12L ASC NULLS FIRST], true, 0
      +- ShuffleQueryStage 2
         +- Exchange rangepartitioning(k#12L ASC NULLS FIRST, 2), ENSURE_REQUIREMENTS, [plan_id=99]
            +- *(2) BroadcastHashJoin [k#1], [k#2], Inner, BuildRight
               :- *(1) Filter isnotnull(k#12L)
               :  +- InMemoryTableScan [k#12L, v#1], [isnotnull(k#12L)]
               :        +- InMemoryRelation [k#12L, v#1], StorageLevel(disk, memory, deserialized, 1 replicas)
               :              +- Exchange hashpartitioning(k#0L, 2)
               :                 +- LocalTableScan [k#0L, v#1]
               +- BroadcastQueryStage 1
                  +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false)
                     +- *(1) ColumnarToRow
                        +- FileScan parquet [k#2] Batched: true
+- == Initial Plan ==
   Sort [k#12L ASC NULLS FIRST], true, 0
   +- Exchange rangepartitioning(k#12L ASC NULLS FIRST, 2), ENSURE_REQUIREMENTS, [plan_id=23]
      +- FileScan parquet [k#2] Batched: true
"""


def test_plan_counts_read_the_final_plan_and_skip_cached_subtrees():
    assert count_plan_nodes(PLAN) == {"exchanges": 2, "scans": 2}


def test_fails_without_the_library(tmp_path):
    """Run from a directory holding only the benchmark, it must exit non-zero
    without printing a result."""
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "interactive", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
