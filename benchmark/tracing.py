"""Spans around calls into the program's layers, and the Spark counters
attributed to them.

Every call the benchmark makes into a layer's public function is wrapped
in a span. A span runs its Spark jobs under its own job group,
``<pass>|<span name>``, so the event log attributes each job, stage and
task to exactly one span by id rather than by time window. Jobs that run
outside any named span fall into the pass's own group, ``<pass>|pass``.

Untraced runs keep only the pass-level group: it costs one local
property per pass and lets the run compare job counts between passes
through the status tracker, without an event log.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# The spans the traced run reports, in layer order.
SPANS = (
    "session.get_spark",
    "sources.points.media_points",
    "operators.knn_kernel.knn_join_grid",
    "operators.tiles.pip_join",
    "operators.dbscan.dbscan",
    "operators.search.core_distances",
    "operators.geo.sphere_knn_join",
    "operators.geo.geo_nearest_tile",
    "plans.checkpoint.run_checkpointed",
)

# Per-span metrics and their units. Timing metrics come from the
# benchmark's clock; the rest from the event log.
SPAN_METRICS = {
    "call_s": "s",
    "action_s": "s",
    "self_s": "s",
    "jobs": "count",
    "tasks": "count",
    "exec_cpu_s": "s",
    "gc_s": "s",
    "py_run_s": "s",
    "py_mb": "MB",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "result_mb": "MB",
}

PASS_GROUP = "pass"

# The metrics each span reports; the worker's result file keeps all of
# them. Left out are those that read 0 on both workloads by
# construction:
# - ``spill_mb`` everywhere: the inputs are far too small to spill;
# - ``py_run_s``/``py_mb`` of spans that start no Python worker;
# - ``action_s`` of the spans inside ``run_checkpointed``, whose write
#   materializes their results, and of ``run_checkpointed`` itself;
# - every counter of ``geo_nearest_tile``, a map-only plan whose tasks
#   run inside that write;
# - ``self_s`` where it equals ``call_s``.
# ``get_spark`` runs before any job, so only its call time is kept.
_COUNTERS = ("jobs", "tasks", "exec_cpu_s", "gc_s", "shuffle_mb", "result_mb")
_PY = ("py_run_s", "py_mb")
_TIMED = ("call_s", "action_s", "self_s")
REPORTED = {
    "session.get_spark": ("call_s",),
    "sources.points.media_points": (*_TIMED, *_COUNTERS),
    "operators.knn_kernel.knn_join_grid": (*_TIMED, *_COUNTERS, *_PY),
    "operators.tiles.pip_join": (*_TIMED, *_COUNTERS, *_PY),
    "operators.dbscan.dbscan": (*_TIMED, *_COUNTERS, *_PY),
    "operators.search.core_distances": (*_TIMED, *_COUNTERS),
    "operators.geo.sphere_knn_join": ("call_s", *_COUNTERS),
    "operators.geo.geo_nearest_tile": ("call_s",),
    "plans.checkpoint.run_checkpointed": ("call_s", "self_s", *_COUNTERS, *_PY),
}


def layer_metrics():
    """(name, unit) of every per-layer metric a traced run reports."""
    for span in SPANS:
        for m in REPORTED[span]:
            yield f"{span}.{m}", SPAN_METRICS[m]


class Tracer:
    """Records span timings per pass and sets Spark job groups.

    ``traced=False`` sets only the pass-level group, so the timed code
    path is the same in both modes apart from the group switches.
    """

    def __init__(self, sc, traced: bool):
        self.sc = sc
        self.traced = traced
        self.pass_id = "setup"
        self.stack: list[str] = []
        # pass id -> span -> {"call_s", "action_s", "child_s"}
        self.times = defaultdict(lambda: defaultdict(lambda: defaultdict(float)))

    def _group(self) -> str:
        name = self.stack[-1] if (self.traced and self.stack) else PASS_GROUP
        return f"{self.pass_id}|{name}"

    def _set_group(self) -> None:
        self.sc.setJobGroup(self._group(), self._group())

    def begin_pass(self, pass_id: str) -> None:
        self.pass_id = pass_id
        self._set_group()

    def pass_group(self) -> str:
        return f"{self.pass_id}|{PASS_GROUP}"

    @contextmanager
    def span(self, name: str, part: str = "call_s"):
        """Time ``part`` ("call_s" or "action_s") of span ``name``.
        Nested spans add their time to the parent's ``child_s``."""
        assert name in SPANS, name
        if not self.traced:
            yield
            return
        self.stack.append(name)
        self._set_group()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self.stack.pop()
            rec = self.times[self.pass_id]
            rec[name][part] += dt
            if self.stack:
                rec[self.stack[-1]]["child_s"] += dt
            self._set_group()

    def record(self, name: str, part: str, seconds: float) -> None:
        """Add a time measured outside a ``span`` block (the session
        start, which runs before there is a SparkContext to tag)."""
        self.times[self.pass_id][name][part] += seconds


def pass_jobs(sc, group: str) -> int:
    """Jobs run so far under ``group``, from the status tracker."""
    return len(sc.statusTracker().getJobIdsForGroup(group))


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the single application logged under ``log_dir``.
    The log is written uncompressed, so it is plain JSON lines."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    path = os.path.join(log_dir, names[0])
    if os.path.isdir(path):  # rolling layout: eventlog_v2_<app>/events_*
        parts = sorted(p for p in os.listdir(path) if p.startswith("events_"))
        paths = [os.path.join(path, p) for p in parts]
    else:
        paths = [path]
    events = []
    for p in paths:
        with open(p) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


# raw event-log unit -> reported unit, per counter
_SCALE = {
    "jobs": 1,
    "tasks": 1,
    "exec_cpu_s": 1e-9,  # ns
    "gc_s": 1e-3,  # ms
    "py_run_s": 1e-3,  # ms
    "py_mb": 1e-6,  # bytes
    "shuffle_mb": 1e-6,
    "spill_mb": 1e-6,
    "result_mb": 1e-6,
}

# the Python runner's SQL metrics (Spark's PythonSQLMetrics)
_PY_RUN = "time to run Python workers"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def counters_by_group(events: list[dict]) -> dict[str, dict[str, float]]:
    """Fold the event log into per-job-group counters.

    Stages are attributed through the properties of their
    ``StageSubmitted`` event (the group of the job that ran them), jobs
    through ``JobStart``. Task metrics and the Python runner's SQL
    metrics are summed per task as integers, so the totals do not depend
    on the order tasks finished in.
    """
    stage_group: dict[tuple[int, int], str] = {}
    raw: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
    for ev in events:
        kind = ev.get("Event")
        props = ev.get("Properties") or {}
        if kind == "SparkListenerJobStart":
            group = props.get("spark.jobGroup.id")
            if group:
                raw[group]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            group = props.get("spark.jobGroup.id")
            info = ev["Stage Info"]
            if group:
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            m = ev.get("Task Metrics")
            if group is None or not m:
                continue
            c = raw[group]
            c["tasks"] += 1
            c["exec_cpu_s"] += m.get("Executor CPU Time", 0)
            c["gc_s"] += m.get("JVM GC Time", 0)
            c["result_mb"] += m.get("Result Size", 0)
            c["spill_mb"] += m.get("Disk Bytes Spilled", 0)
            c["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            for acc in ev["Task Info"].get("Accumulables") or []:
                name, update = acc.get("Name"), acc.get("Update")
                if name == _PY_RUN:
                    c["py_run_s"] += int(update)
                elif name in _PY_BYTES:
                    c["py_mb"] += int(update)
    return {
        group: {k: v * _SCALE[k] for k, v in c.items()} for group, c in raw.items()
    }


def span_rows(tracer: Tracer, counters: dict, pass_id: str) -> dict[str, dict[str, float]]:
    """Every span's metrics for one pass (zeros for spans the workload
    does not call). ``counters`` is :func:`counters_by_group`'s result."""
    rows = {}
    times = tracer.times.get(pass_id, {})
    for name in SPANS:
        t = times.get(name, {})
        c = counters.get(f"{pass_id}|{name}", {})
        call_s = t.get("call_s", 0.0)
        action_s = t.get("action_s", 0.0)
        row = {
            "call_s": call_s,
            "action_s": action_s,
            "self_s": call_s + action_s - t.get("child_s", 0.0),
        }
        for key in SPAN_METRICS:
            if key not in row:
                row[key] = float(c.get(key, 0.0))
        rows[name] = row
    return rows
