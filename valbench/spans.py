"""Spans, self time and Spark-counter attribution for the traced run.

Spans are kept in memory: (name, start, end, parent, pass id). A layer's
self time is its span's duration minus the part of that interval its
child spans cover. Spark work is attributed to the innermost open span
through ``SparkContext.setJobGroup(<layer>)``; after the session stops,
:func:`group_counters` folds the event log's task metrics per job group.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = "pass"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    pass_id: int
    sid: int = 0


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, hi = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= hi:
            continue
        total += b - max(a, hi)
        hi = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the union of its direct children (clipped
    to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.sid: s for s in spans}
    for s in spans:
        if s.parent is not None:
            p = by_id[s.parent]
            kids.setdefault(s.parent, []).append(
                (max(s.start, p.start), min(s.end, p.end)))
    return {s.sid: (s.end - s.start) - _covered(kids.get(s.sid, []))
            for s in spans}


@dataclass
class Tracer:
    """Untraced (``enabled=False``) it only runs the calls; traced, it
    records spans, tags jobs with the layer name and forces each layer's
    DataFrame output inside its span (Spark is lazy, so an unforced
    layer's work would land in whichever later span first runs an
    action)."""
    spark: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    pass_id: int = 0
    _stack: list[int] = field(default_factory=list)
    _cached: list = field(default_factory=list)

    def _set_group(self, name: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(name, name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, self.pass_id, sid)
        self.spans.append(s)
        self._stack.append(sid)
        self._set_group(name)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]].name
                            if self._stack else None)

    def current(self) -> str:
        """Name of the innermost open span."""
        return self.spans[self._stack[-1]].name if self._stack else ROOT

    def force(self, df):
        """Materialize ``df`` (cached, so downstream layers reuse it)."""
        if not self.enabled or not hasattr(df, "persist"):
            return df
        from pyspark.storagelevel import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        self._cached.append(df)
        return df

    def call(self, layer: str, fn, *args, **kwargs):
        """Run one call into a layer, forcing a DataFrame result."""
        with self.span(layer):
            return self.force(fn(*args, **kwargs))

    def release(self) -> None:
        """Unpersist every frame forced so far."""
        while self._cached:
            self._cached.pop().unpersist()

    @contextmanager
    def run_pass(self, pass_id: int):
        self.pass_id = pass_id
        try:
            with self.span(ROOT):
                yield
        finally:
            self.release()

    def layer_self_times(self, pass_ids) -> dict[str, list[float]]:
        """layer -> per-pass total self time, over the given passes."""
        st = self_times(self.spans)
        out: dict[str, dict[int, float]] = {}
        for s in self.spans:
            if s.pass_id in pass_ids:
                per = out.setdefault(s.name, {})
                per[s.pass_id] = per.get(s.pass_id, 0.0) + st[s.sid]
        return {k: [v.get(p, 0.0) for p in pass_ids] for k, v in out.items()}


# ---------------------------------------------------------------------------
# event-log attribution
# ---------------------------------------------------------------------------

COUNTERS = ("jobs", "tasks", "cpu_s", "shuffle_mb", "spill_mb", "input_mb",
            "python_mb", "files_read")
_SQL = "org.apache.spark.sql.execution.ui."


def _metric_names(plan: dict, names: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        names[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _metric_names(child, names)


def group_counters(event_log: str) -> dict[str, dict[str, float]]:
    """Fold a Spark JSON event log into per-job-group counters: jobs,
    tasks, executor CPU seconds, shuffle MB written, spill MB (memory + disk),
    input MB read, MB sent to Python workers and files opened by scans.
    Stages inherit the job group of the job that submitted them;
    work with no group goes to ``''``."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    acc_names: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(g: str) -> dict[str, float]:
        return out.setdefault(g, dict.fromkeys(COUNTERS, 0.0))

    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind in (_SQL + "SparkListenerSQLExecutionStart",
                        _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                _metric_names(ev.get("sparkPlanInfo") or {}, acc_names)
                if "jobGroupId" in ev:
                    exec_group[ev["executionId"]] = ev.get("jobGroupId") or ""
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                b = bucket(exec_group.get(ev.get("executionId"), ""))
                for acc_id, value in ev.get("accumUpdates", []):
                    if acc_names.get(acc_id) == "number of files read":
                        b["files_read"] += value
            elif kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                bucket(g)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerStageSubmitted":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g is not None:
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                b = bucket(stage_group.get(ev.get("Stage ID"), ""))
                b["tasks"] += 1
                b["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                b["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0) / 1e6
                b["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0)) / 1e6
                b["input_mb"] += (m.get("Input Metrics") or {}).get(
                    "Bytes Read", 0) / 1e6
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") == "data sent to Python workers":
                        b["python_mb"] += float(acc.get("Update", 0)) / 1e6
    return out


def find_event_log(log_dir: str) -> str:
    """The single application log Spark wrote into ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {names}")
    return os.path.join(log_dir, names[0])
