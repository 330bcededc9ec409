"""The traced run: spans around calls into each layer, Spark job-group
accounting, and a parser for Spark's event log.

Spans are recorded from the benchmark's own code around each call into
a package module. A span holds (id, name, start, end, parent id,
request id); spans stay in memory and are written out when the run
ends. A layer's self time is its span's duration minus the part of that
interval covered by its child spans.

Spark work is attributed per operation through ``setJobGroup``: the job
count is read from the status tracker right after the call (the store
keeps only the last 1,000 jobs), and task, shuffle and Python-boundary
metrics come from the event log, which is parsed after the session
stops.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Span recorder. When disabled, ``span`` only yields."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        #: time spent in the tracer's own bookkeeping (span entry/exit,
        #: job-group tagging, status-tracker reads)
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, rid=None, group: str | None = None):
        """Time a call into layer ``name``. ``group`` tags the Spark jobs
        started in this thread during the span with that job group."""
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        if group is not None:
            self.sc.setJobGroup(group, name)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            if group is not None:
                # jobs after the span must not be charged to its group
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append((sid, name, start, end, parent, rid))
                self.overhead_s += (start - t_in) + (time.perf_counter() - end)

    def jobs_in_group(self, group: str) -> int:
        t0 = time.perf_counter()
        n = len(self.sc.statusTracker().getJobIdsForGroup(group))
        with self._lock:
            self.overhead_s += time.perf_counter() - t0
        return n

    def self_times(self) -> dict[str, float]:
        """Total self time (s) per span name."""
        children = defaultdict(list)
        for s in self.spans:
            if s[4] is not None:
                children[s[4]].append((s[2], s[3]))
        out: dict[str, float] = defaultdict(float)
        for sid, name, start, end, _parent, _rid in self.spans:
            covered = 0.0
            cur = start
            for a, b in sorted(children.get(sid, [])):
                a, b = max(a, cur), min(b, end)
                if b > a:
                    covered += b - a
                    cur = b
            out[name] += (end - start) - covered
        return dict(out)

    def write(self, path: str) -> None:
        """Dump the spans and the self time per layer as JSON."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        keys = ("id", "name", "start", "end", "parent", "rid")
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [dict(zip(keys, s)) for s in self.spans],
                    "self_s": self.self_times(),
                },
                f,
                indent=1,
            )


# -- event log ------------------------------------------------------------

_PY_NODE_WORDS = ("Python", "Pandas", "Arrow")


def _python_accumulators(plan: dict, out: dict) -> None:
    """Map accumulator id -> role for every Python-boundary plan node:
    bytes sent / returned, rows returned (the node's output rows) and
    rows sent (its input's output rows or shuffle records read)."""
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if any(w in plan["nodeName"] for w in _PY_NODE_WORDS) and (
        "data sent to Python workers" in metrics
    ):
        out[metrics["data sent to Python workers"]] = "py_bytes_sent"
        out[metrics["data returned from Python workers"]] = "py_bytes_returned"
        if "number of output rows" in metrics:
            out[metrics["number of output rows"]] = "py_rows_returned"
        child = plan["children"][0] if plan["children"] else None
        while child is not None:
            cm = {m["name"]: m["accumulatorId"] for m in child.get("metrics", [])}
            acc = cm.get("number of output rows") or cm.get("records read")
            if acc is not None:
                out[acc] = "py_rows_sent"
                break
            child = child["children"][0] if child["children"] else None
    for c in plan.get("children", []):
        _python_accumulators(c, out)


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, executor run/cpu time, shuffle bytes
    written, and Python-boundary rows and bytes."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                events.append(json.loads(line))
    py_acc: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for e in events:
        kind = e["Event"]
        if "sparkPlanInfo" in e:
            _python_accumulators(e["sparkPlanInfo"], py_acc)
        elif kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if g is None:
                continue
            for sid in e["Stage IDs"]:
                stage_group[sid] = g
            groups[g]["jobs"] += 1
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        g = stage_group.get(e["Stage ID"])
        if g is None:
            continue
        rec = groups[g]
        rec["tasks"] += 1
        tm = e.get("Task Metrics") or {}
        rec["run_s"] += tm.get("Executor Run Time", 0) / 1000.0
        rec["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        sw = tm.get("Shuffle Write Metrics") or {}
        rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        for a in (e.get("Task Info") or {}).get("Accumulables", []):
            role = py_acc.get(a.get("ID"))
            if role is not None:
                rec[role] += float(a.get("Update", 0) or 0)
    return {g: dict(v) for g, v in groups.items()}


def sum_groups(stats: dict[str, dict], groups) -> dict[str, float]:
    """Add the per-group records of ``groups`` (missing groups count 0)."""
    out: dict[str, float] = defaultdict(float)
    for g in groups:
        for k, v in stats.get(g, {}).items():
            out[k] += v
    return out


def put_query_metrics(ctx, stats: dict, groups: list[str], wall_s: float) -> None:
    """``spark.*_query`` per-layer metrics for the operations tagged with
    ``groups``, whose summed wall time is ``wall_s``."""
    agg = sum_groups(stats, groups)
    n = max(len(groups), 1)
    ctx.layer("spark.jobs_per_query", agg.get("jobs", 0.0) / n)
    ctx.layer("spark.tasks_per_query", agg.get("tasks", 0.0) / n)
    ctx.layer("spark.shuffle_write_mb_per_query", agg.get("shuffle_write_bytes", 0.0) / 1e6 / n)
    ctx.layer("spark.python_rows_per_query", agg.get("py_rows_sent", 0.0) / n)
    ctx.layer(
        "spark.task_busy_share_query",
        agg.get("run_s", 0.0) / (wall_s * ctx.cores) if wall_s > 0 else 0.0,
    )
