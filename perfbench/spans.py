"""Tracing from outside the library: spans recorded around the
benchmark's calls into each layer, Spark job/stage/task counts per call
from the status tracker, and Exchange/Scan counts from executed plans."""

from __future__ import annotations

import contextlib
import json
import re
import time


class NoTracer:
    """Tracing off: every hook is free."""

    enabled = False

    def span(self, name: str, own_jobs: bool = False, **attrs):
        return contextlib.nullcontext()

    def job_group(self, group: str) -> None:
        pass


class Tracer:
    """Spans kept in memory (name, start, end, parent, run id) and written
    out by :meth:`dump`; each call phase runs under its own Spark job group
    so its jobs can be counted afterwards."""

    enabled = True

    def __init__(self, run_id: str, sc=None):
        self.sc = sc  # set once the session is up; spans need none
        self.run_id = run_id
        self.spans: list = []
        self._stack: list = []
        self.group = None

    @contextlib.contextmanager
    def span(self, name: str, own_jobs: bool = False, **attrs):
        """With ``own_jobs`` the span's Spark jobs run under the sub-group
        ``<current group>/<name>``, so they are not counted as the
        enclosing phase's own."""
        outer = self.group if own_jobs and self.sc is not None else None
        if outer:
            self.job_group(f"{outer}/{name}")
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if outer:
                self.job_group(outer)

    def job_group(self, group: str) -> None:
        self.group = group
        self.sc.setJobGroup(group, group)

    def group_counts(self, group: str) -> dict:
        """Jobs, completed tasks and failed tasks run under ``group``.  The
        status store is fed asynchronously, so drain the listener bus first
        or the last job's tasks may be missing."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        jobs = tasks = failed = 0
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            jobs += 1
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if si is not None:
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
        return {"jobs": jobs, "tasks": tasks, "failed_tasks": failed}

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?(\S+)")


def plan_counts(df) -> dict:
    """Exchange and Scan nodes in the executed plan of ``df``: the final
    adaptive plan once the frame has been collected, the initial one when it
    was written (a write runs its own copy of the plan)."""
    return count_plan_nodes(df._jdf.queryExecution().executedPlan().toString())


def count_plan_nodes(text: str) -> dict:
    """Exchange and Scan nodes in a physical plan's tree string.  Scans
    inside a cached relation's plan are not run again, so its subtree is
    skipped; ``ReusedExchange`` shuffles nothing, so it is not counted."""
    if "== Final Plan ==" in text:
        text = text.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    exchanges = scans = 0
    skip_below = None
    for line in text.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        depth, name = m.start(1), m.group(1)
        if skip_below is not None:
            if depth > skip_below:
                continue
            skip_below = None
        if name == "InMemoryRelation":
            skip_below = depth
        elif name in ("Exchange", "BroadcastExchange", "ShuffleExchange"):
            exchanges += 1
        elif re.match(r"\w*Scan$", name):
            scans += 1
    return {"exchanges": exchanges, "scans": scans}
