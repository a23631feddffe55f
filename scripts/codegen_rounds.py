"""Classes compiled per round of a perfbench workload, in one session.

Runs the workload's calls (perfbench's own inputs, calls and oracles)
``--rounds`` times in one ``get_spark()`` session and prints how many
classes whole-stage codegen compiled in each round and for each call.
With the codegen class cache sized to the working set, rounds after the
first compile (almost) nothing; a call that keeps compiling on every
round inlines something per-call into its generated code.

Usage, from the repository root:

    python scripts/codegen_rounds.py --workload interactive --seed 21 --rounds 3
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "perfbench"))

import run as pb  # noqa: E402  (perfbench/run.py)
import workloads  # noqa: E402
from spans import NoTracer  # noqa: E402

from dask_groupby_spark.session import codegen_compile_count  # noqa: E402


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, default=21)
    p.add_argument("--rounds", type=int, default=3)
    args = p.parse_args(argv)

    workdir = ROOT / ".perfbench_out" / f"codegen-{os.getpid()}"
    (workdir / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(workdir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(workdir / "tmp")

    wl = workloads.WORKLOADS[args.workload]
    data = wl.generate(args.seed)
    exp = wl.expected(data)
    runner = pb.Runner(workdir)
    session = None
    try:
        session, state, _ = pb.start(wl, args.seed, workdir, None, NoTracer())
        spark = session.spark
        calls = wl.calls(spark, state, exp)
        print(f"codegen cache maxEntries = {spark.conf.get('spark.sql.codegen.cache.maxEntries')}")
        for r in range(1, args.rounds + 1):
            per_call = []
            for c in calls:
                before = codegen_compile_count(spark)
                rec = runner.call(c, NoTracer())
                per_call.append((c.name, codegen_compile_count(spark) - before, rec["ok"]))
            total = sum(n for _, n, _ in per_call)
            detail = " ".join(f"{name}={n}" + ("" if ok else "(FAILED)") for name, n, ok in per_call)
            print(f"round {r}: {total} compiled | {detail}")
    finally:
        if session is not None:
            session.close()
        shutil.rmtree(workdir, ignore_errors=True)
    print(f"failed calls: {runner.failed}/{runner.attempted}")
    return 1 if runner.failed else 0


if __name__ == "__main__":
    sys.exit(main())
