#!/usr/bin/env python3
"""Seeded benchmark of dask_groupby_spark.  Run from the repository root:

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

One Python process is the only client: a closed loop that makes the next
call when the previous one has returned, against one ``get_spark()``
session on local[nproc].  Every output is checked against an oracle.  The
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``).  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

import workloads
from oracle import Mismatch
from spans import NoTracer, Tracer, plan_counts

#: session start, input generation and loading are repeated this often per
#: run (later starts restart the session in the same JVM) and their median,
#: plus one warm-up round, is ``setup_s``
SETUP_REPEATS = 3
#: the tail is read at the highest percentile with this many samples beyond it
TAIL_BEYOND = 10
#: whole rounds measured at least, however short ``--seconds`` is, so the
#: sample count (and the tail's percentile) does not hang on host speed
MIN_ROUNDS = 2

LAYERS = (
    "core.reduce", "core.scan_window", "aggregations.holistic", "reindex.expected",
    "binning.bins", "xdim.xarray_reduce", "resample.resample", "rolling.groupby_rolling",
    "two_pass.scan", "operators.dedup", "operators.similarity", "operators.text",
)
LAYER_MEASURES = {
    "build_s": "s", "exec_s": "s", "jobs": "count", "build_jobs": "count",
    "tasks": "count", "exchanges": "count", "scans": "count",
}
SCAN_LAYERS = ("core.scan_window", "two_pass.scan", "rolling.groupby_rolling")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def import_library(root: Path):
    """The library under test must come from this checkout, never from an
    installed copy."""
    sys.path.insert(0, str(root))
    import dask_groupby_spark

    where = Path(dask_groupby_spark.__file__).resolve()
    if root.resolve() not in where.parents:
        raise ImportError(f"dask_groupby_spark imported from {where}, outside {root}")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Session:
    """One ``get_spark()`` session whose scratch files stay inside the
    work directory; :meth:`close` stops the JVM and waits for it."""

    def __init__(self, workdir: Path):
        from dask_groupby_spark import get_spark

        tmp = workdir / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        self.spark = get_spark(
            "perfbench",
            cpus=nproc(),
            extra_conf={
                # a fixed heap and young generation: with a resizing heap
                # peak RSS wanders from run to run by hundreds of MB
                "spark.driver.memory": "2g",
                "spark.driver.extraJavaOptions": (
                    f"-Xms2g -XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -Djava.io.tmpdir={tmp}"
                ),
                "spark.local.dir": str(tmp),
                "spark.sql.warehouse.dir": str(workdir / "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()

    def restart(self, workdir: Path) -> "Session":
        """A fresh session in the same JVM."""
        self.spark.stop()
        return Session(workdir)

    def close(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tail(latencies: list):
    """The latency at the highest percentile with ``TAIL_BEYOND`` samples
    beyond it, that percentile, and the sample count.  With too few
    samples it is the maximum."""
    s = sorted(latencies)
    n = len(s)
    i = n - TAIL_BEYOND - 1 if n > TAIL_BEYOND else n - 1
    return s[i], 100.0 * (i + 1) / n, n


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


class Runner:
    def __init__(self, workdir: Path):
        self.workdir = workdir
        self.attempted = 0
        self.failed = 0
        self.errors: list = []
        self.n = 0

    def call(self, call, tr) -> dict:
        """One closed-loop call: build (until the lazy frame returns, eager
        probes included), then exec (collect, or save through
        ``sources.save_table``); the check against the oracle is untimed."""
        from dask_groupby_spark.sources import save_table
        import pyarrow.parquet as pq

        self.n += 1
        self.attempted += 1
        group = f"{call.name}#{self.n}"
        rec = {"call": call.name, "layer": call.layer, "rows": call.rows}
        out = self.workdir / "out" / group
        df = None
        t0 = time.perf_counter()
        try:
            tr.job_group(group + "/build")
            with tr.span(call.layer + ".build", call=call.name):
                df = call.build(tr)
            t1 = time.perf_counter()
            tr.job_group(group + "/exec")
            with tr.span(call.layer + ".exec", call=call.name):
                if call.save:
                    with tr.span("sources.save", call=call.name):
                        save_table(df, str(out))
                    got = None
                else:
                    got = df.toPandas()
            t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, exec_s=t2 - t1, latency_s=t2 - t0)
            if tr.enabled:
                # jobs of the input load inside build are the sources layer's
                b, ld, x = (tr.group_counts(group + g)
                            for g in ("/build", "/build/sources.load", "/exec"))
                rec.update(
                    build_jobs=b["jobs"], **plan_counts(df),
                    **{k: b[k] + ld[k] + x[k] for k in ("jobs", "tasks", "failed_tasks")},
                )
            if call.save:
                rec["bytes_written"] = dir_bytes(out)
                got = pq.read_table(str(out)).to_pandas()
            call.check(got)
            rec["ok"] = True
        except Exception as e:  # a failed call is counted and the loop goes on
            self.failed += 1
            rec["ok"] = False
            rec.setdefault("latency_s", time.perf_counter() - t0)
            self.errors.append(f"{call.name}: {type(e).__name__}: {e}"[:500])
            if not isinstance(e, Mismatch):
                traceback.print_exc(file=sys.stderr)
        finally:
            # documented persist handles are released, as a careful caller would
            for attr in ("two_pass_stats", "tfidf_term_counts", "resample_agg"):
                h = getattr(df, attr, None)
                if h is not None:
                    h.unpersist()
            shutil.rmtree(out, ignore_errors=True)
        return rec

    def round(self, calls, tr) -> tuple:
        t0 = time.perf_counter()
        recs = [self.call(c, tr) for c in calls]
        return recs, time.perf_counter() - t0


def start(wl, seed, workdir, session, tr):
    """Session start (a restart in the same JVM after the first), input
    generation and loading.  Returns (session, state, seconds)."""
    t0 = time.perf_counter()
    session = Session(workdir) if session is None else session.restart(workdir)
    t1 = time.perf_counter()
    data = wl.generate(seed)
    shutil.rmtree(workdir / "in", ignore_errors=True)
    state = wl.load(session.spark, data, str(workdir), tr)
    return session, state, {"start_s": time.perf_counter() - t0, "session_start_s": t1 - t0}


def companion_calls(wl, covered: set, seed: int, spark, workdir: Path) -> list:
    """Calls of the other workloads, at their small sizes, for the layer
    classes ``wl`` does not exercise, so a traced run measures every class."""
    out = []
    for other in workloads.WORKLOADS.values():
        missing = {c for c in LAYERS if c not in covered}
        if other is wl or not missing:
            continue
        small = other.small()
        data = small.generate(seed)
        state = small.load(spark, data, str(workdir / "companion" / other.name), NoTracer())
        picked = [c for c in small.calls(spark, state, small.expected(data)) if c.layer in missing]
        out += picked
        covered |= {c.layer for c in picked}
    return out


def end_to_end(recs, starts, warmup_s, session) -> dict:
    lat = [r["latency_s"] for r in recs]
    tail_v, tail_p, n = tail(lat)
    rss_py, rss_jvm = vm_hwm_mb("self"), vm_hwm_mb(session.jvm_pid)
    rss = rss_py + rss_jvm
    metrics = {
        "setup_s": (statistics.median(s["start_s"] for s in starts) + warmup_s, "s"),
        "rows_per_s": (sum(r["rows"] for r in recs) / sum(lat), "rows/s"),
        "call_p50_s": (statistics.median(lat), "s"),
        "call_tail_s": (tail_v, "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    detail = {"samples": n, "tail_percentile": round(tail_p, 2),
              "starts_s": [round(s["start_s"], 4) for s in starts], "warmup_s": round(warmup_s, 4),
              "peak_rss_mb": {"python": round(rss_py, 1), "jvm": round(rss_jvm, 1)}}
    return metrics, detail


def per_layer(traced, untraced_walls, traced_walls, starts, persisted, spans, quality) -> dict:
    """Per-layer metrics from the traced rounds.  Timings are medians over
    calls; counts are per call (each call's median over rounds, averaged
    over the class's calls).  A class without a successful traced call
    reports 0."""
    m = {}
    for layer in LAYERS:
        recs = [r for r in traced if r["layer"] == layer and r["ok"]]
        for meas, unit in LAYER_MEASURES.items():
            if not recs:
                val = 0.0 if unit == "s" else 0
            elif unit == "s":
                val = statistics.median(r[meas] for r in recs)
            else:
                by_call: dict = {}
                for r in recs:
                    by_call.setdefault(r["call"], []).append(r[meas])
                val = statistics.mean(statistics.median(v) for v in by_call.values())
            m[f"{layer}.{meas}"] = (val, unit)
    scans = [r for r in traced if r["layer"] in SCAN_LAYERS and r["ok"]]
    loads = [sp["end"] - sp["start"] for sp in spans if sp["name"] == "sources.load"]
    saves = [sp["end"] - sp["start"] for sp in spans if sp["name"] == "sources.save"]
    written = [r["bytes_written"] for r in traced if "bytes_written" in r]
    m.update({
        "session.start_s": (starts[0]["session_start_s"], "s"),
        "sources.load_s": (statistics.median(loads), "s"),
        "sources.save_s": (statistics.median(saves) if saves else 0.0, "s"),
        "sources.bytes_written": (statistics.median(written) if written else 0, "bytes"),
        "two_pass.probe_free_ratio": (
            sum(r["build_jobs"] == 0 for r in scans) / len(scans) if scans else 0.0, "ratio"),
        "operators.dedup.pair_precision": (quality.get("operators.dedup.pair_precision", 0.0), "ratio"),
        "operators.similarity.ivf_recall": (quality.get("operators.similarity.ivf_recall", 0.0), "ratio"),
        "spark.failed_tasks": (sum(r.get("failed_tasks", 0) for r in traced), "count"),
        "spark.persisted_rdds": (max(persisted), "count"),
        "trace.overhead_s": (statistics.median(traced_walls) - statistics.median(untraced_walls), "s"),
    })
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    try:
        import_library(root)
    except ImportError as e:
        print(f"perfbench: cannot import the library from {root}: {e}", file=sys.stderr)
        return 2
    out_dir = root / ".perfbench_out"
    workdir = out_dir / f"work-{os.getpid()}"
    (workdir / "tmp").mkdir(parents=True, exist_ok=True)
    # everything Spark and Python write goes under the work directory
    os.environ["TMPDIR"] = str(workdir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(workdir / "tmp")

    wl = workloads.WORKLOADS[args.workload]
    host = {"nproc": nproc(), "loadavg_before": os.getloadavg()}
    data = wl.generate(args.seed)
    props = wl.properties(data)
    exp = wl.expected(data)
    runner = Runner(workdir)
    session = None
    tr = Tracer(f"{args.workload}-{args.seed}") if args.trace else NoTracer()
    try:
        starts = []
        for _ in range(1 if args.trace else SETUP_REPEATS):
            session, state, timing = start(wl, args.seed, workdir, session, tr)
            starts.append(timing)
        t0 = time.perf_counter()
        calls = wl.calls(session.spark, state, exp)
        runner.round(calls, NoTracer())
        warmup_s = time.perf_counter() - t0
        spark = session.spark
        if args.trace:
            tr.sc = spark.sparkContext
        host.update(spark=spark.version,
                    java=spark._jvm.java.lang.System.getProperty("java.version"),
                    python=sys.version.split()[0])
        recs, traced, walls, twalls, persisted = [], [], [], [], []
        deadline = time.perf_counter() + args.seconds
        r = 0
        # whole rounds only, so every call kind is sampled equally; a traced
        # run interleaves untraced and traced rounds in blocks of four
        # (U T T U), so neither side gains from running later
        block = 4 if args.trace else 1
        while r < max(MIN_ROUNDS, block) or r % block or time.perf_counter() < deadline:
            on = bool(args.trace) and r % 4 in (1, 2)
            rr, wall = runner.round(calls, tr if on else NoTracer())
            (traced if on else recs).extend(rr)
            (twalls if on else walls).append(wall)
            if on:
                persisted.append(spark.sparkContext._jsc.getPersistentRDDs().size())
            r += 1
        if args.trace:
            companions = companion_calls(wl, {c.layer for c in calls}, args.seed, spark, workdir)
            runner.round(companions, NoTracer())  # warm-up
            traced.extend(runner.round(companions, tr)[0])
            quality = wl.quality(spark, state, exp)
            metrics = per_layer(traced, walls, twalls, starts, persisted, tr.spans, quality)
            out_dir.mkdir(exist_ok=True)
            tr.dump(out_dir / f"spans-{args.workload}-{args.seed}.json")
            detail = {"traced_rounds": len(twalls), "untraced_rounds": len(walls),
                      "companion_calls": [c.name for c in companions]}
        else:
            metrics, detail = end_to_end(recs, starts, warmup_s, session)
            detail["round_walls_s"] = [round(w, 3) for w in walls]
    finally:
        if session is not None:
            session.close()
        shutil.rmtree(workdir, ignore_errors=True)
    host["loadavg_after"] = os.getloadavg()
    failed_ratio = runner.failed / runner.attempted
    print("host " + json.dumps(host))
    print("inputs " + json.dumps(props))
    print("detail " + json.dumps({**detail, "failed_ratio": failed_ratio, "errors": runner.errors[:5]}))
    for name, (val, unit) in metrics.items():
        print(f"  {name:42s} {val:>16.6g} {unit}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
