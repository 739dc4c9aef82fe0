"""Spans and per-layer counters for the traced benchmark run.

A span is one timed call into the program (set-up, table load, plan
build, execution, sink write, checkpoint release).  Spans nest: every
query's build/exec/release spans hang off its pass span, so a span's
*self* time is its duration minus its children's.  Spans are kept in
memory and written as one JSON file when the run ends.

Job, stage and task counts come from Spark's status tracker through a
job group per (pass, operation, phase), so jobs launched while a plan
is being *built* (seed collects, eager checkpoints, extraction
triggers) are told apart from the jobs that execute it.
"""

from __future__ import annotations

import json
import sys
import time
from contextlib import contextmanager

_T0 = time.monotonic()


def log(msg: str) -> None:
    """Progress on standard error, stamped with seconds since start."""
    print(f"[perfbench {time.monotonic() - _T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


# Status-store SQL metric names → per-layer metric names.
SQL_METRICS = {
    "size of files read": "sources.scan_bytes",
    "number of files read": "sources.scan_files",
    "shuffle bytes written": "spark.shuffle_write_bytes",
    "local bytes read": "spark.shuffle_read_bytes",
    "remote bytes read": "spark.shuffle_read_bytes",
    "spill size": "spark.spill_bytes",
    "number of output rows": "spark.output_rows",
    "data sent to Python workers": "spark.arrow_bytes_to_python",
}


class Tracer:
    """Records spans when enabled; a disabled tracer only keeps the
    parent stack, so untraced passes pay no per-span bookkeeping."""

    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, pass_no, query: str | None = None):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "start": time.perf_counter() - self._t0,
               "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "workload": self.workload, "pass": pass_no, "query": query}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def self_times(self, pass_no) -> dict[str, float]:
        """Self time per span name, summed over one pass's spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["pass"] == pass_no:
                out[s["name"]] = (out.get(s["name"], 0.0)
                                  + s["end"] - s["start"] - child[i])
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "spans": self.spans}, f)


def job_group_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages run, tasks completed) for one job group.  Stages
    skipped because their shuffle output was reused run no tasks and
    are not counted."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                stages += 1
                tasks += st.numCompletedTasks
    return len(jobs), stages, tasks


# Plan nodes that pass their child's rows through within the final
# stage, so the first node under them that counts its output rows
# counts the query's rows.  A sort or an exchange ends the walk: a range
# exchange samples its child with an extra job, which counts the
# child's rows twice.
_ROW_PRESERVING = ("OverwriteByExpression", "AdaptiveSparkPlan",
                   "WholeStageCodegen", "InputAdapter", "ColumnarToRow",
                   "Project")


def _status_store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def execution_count(spark) -> int:
    return _status_store(spark).executionsCount()


def executions(spark, first: int, stop: int) -> tuple[int, bool, int | None]:
    """For SQL executions ``first`` to ``stop - 1``: how many there
    are, whether none recorded an error, and the first one's output
    rows as the status store counted them.  Those are the "number of
    output rows" of the first node below the write that counts them,
    when only row-preserving nodes sit above it; None when the plan's
    top does not count rows (a top-k, a sort, a union)."""
    store = _status_store(spark)
    execs = store.executionsList(first, stop - first)
    errors = (execs.apply(i).errorMessage() for i in range(execs.size()))
    ok = not any(e.isDefined() and e.get() for e in errors)
    rows = (_top_rows(store, execs.apply(0).executionId())
            if execs.size() else None)
    return execs.size(), ok, rows


def _top_rows(store, exec_id) -> int | None:
    vals = store.executionMetrics(exec_id)
    nodes = store.planGraph(exec_id).allNodes()
    for i in range(nodes.size()):
        node = nodes.apply(i)
        metrics = node.metrics()
        for j in range(metrics.size()):
            m = metrics.apply(j)
            if m.name() == "number of output rows":
                v = vals.get(m.accumulatorId())
                return int(v.get().replace(",", "")) if v.isDefined() else None
        if not node.name().startswith(_ROW_PRESERVING):
            return None
    return None


def drain_listener_bus(spark) -> None:
    """Block until Spark's listener bus has delivered every queued
    event, so the status store holds an action's final metrics."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
