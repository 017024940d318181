"""Tracing for the traced run: in-memory spans around each call into a
layer, per-job-group Spark job counts, and Spark event-log totals.

Spans are kept in memory and written out once, when the run ends. With
tracing off, ``Tracer.span`` is a no-op context manager and no job group is
set, so the untraced run measures the program alone.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    """Spans (name, start, end, parent, request id) plus named counters."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, request_id: str | None = None):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else None,
            "request_id": request_id,
            "start": time.perf_counter(),
        }
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += value

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, fh)


class JobGroups:
    """Jobs, stages and tasks per Spark job group, from the StatusTracker.
    Inactive when tracing is off."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.groups: list[str] = []

    @contextlib.contextmanager
    def group(self, name: str):
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(name, name)
        self.groups.append(name)
        try:
            yield
        finally:
            self.sc.setJobGroup("perfbench-idle", "between measured groups")

    def counts(self, name: str) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(name)
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stages += 1
                st = tracker.getStageInfo(sid)
                tasks += st.numTasks if st else 0
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def wrap_commit(tracer: Tracer) -> None:
    """Span the snapshot commit protocol (manifest, fsync, pointer swap):
    ``sources.snapshot`` calls ``_commit_metadata`` through its module
    global, so replacing that attribute spans every commit. Traced runs
    only; the process ends with the run."""
    from petfinder_database_distributor_spark.sources import snapshot

    plain = snapshot._commit_metadata  # noqa: SLF001

    def commit(*args, **kwargs):
        with tracer.span("snapshot.commit"):
            return plain(*args, **kwargs)

    snapshot._commit_metadata = commit  # noqa: SLF001


def snapshot_figures(table_dir: str, version: int) -> dict[str, float]:
    """Bytes of the version's data files (a merge rewrites them all), its
    file count and its manifest size."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        _manifest_files,
        _manifest_path,
        read_manifest,
    )

    files = _manifest_files(read_manifest(table_dir, version))
    return {
        "snapshot.bytes_written": sum(os.path.getsize(os.path.join(table_dir, f)) for f in files),
        "snapshot.files_per_version": len(files),
        "snapshot.manifest_bytes": os.path.getsize(_manifest_path(table_dir, version)),
    }


# ---------------------------------------------------------------- event log
# SQL metric name -> per-layer metric, for the Python evaluation nodes
_PY_METRICS = {
    "data sent to Python workers": "arrow.bytes_to_python",
    "data returned from Python workers": "arrow.bytes_from_python",
    "time to run Python workers": "python_udf.s",
}
_TIMING_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per-job-group executor totals from an uncompressed Spark event log
    (plain or rolling layout): run and CPU time, GC, shuffle bytes, spill,
    Python-worker time and bytes, and the number of exchanges in the final
    executed plans."""
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")
    )
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    acc_name: dict[int, tuple[str, str]] = {}
    exec_plan: dict[int, dict] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    events = []
    for path in files:
        with open(path) as fh:
            for line in fh:
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:
                    continue  # a torn last line of an in-progress log
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or "none"
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_group.setdefault(int(eid), group)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            plan = ev.get("sparkPlanInfo") or {}
            exec_plan[int(ev["executionId"])] = plan
            _index_accumulators(plan, acc_name)
        elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
            for m in ev.get("sqlPlanMetrics", []):
                acc_name[int(m["accumulatorId"])] = (m["name"], m.get("metricType", ""))
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        group = stage_group.get(ev.get("Stage ID"), "none")
        tm = ev.get("Task Metrics") or {}
        g = out[group]
        g["executor.run_s"] += tm.get("Executor Run Time", 0) / 1e3
        g["executor.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        sr = tm.get("Shuffle Read Metrics") or {}
        g["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        sw = tm.get("Shuffle Write Metrics") or {}
        g["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            name, mtype = acc_name.get(int(acc.get("ID", -1)), ("", ""))
            if name in _PY_METRICS:
                g[_PY_METRICS[name]] += float(acc.get("Update", 0)) * _TIMING_SCALE.get(mtype, 1.0)
    for eid, plan in exec_plan.items():
        out[exec_group.get(eid, "none")]["exchanges"] += _count_nodes(plan, "Exchange")
    return {k: dict(v) for k, v in out.items()}


def _index_accumulators(node: dict, acc_name: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        acc_name[int(m["accumulatorId"])] = (m["name"], m.get("metricType", ""))
    for child in node.get("children", []):
        _index_accumulators(child, acc_name)


def _count_nodes(node: dict, word: str) -> int:
    own = 1 if word in node.get("nodeName", "") and "Reused" not in node.get("nodeName", "") else 0
    return own + sum(_count_nodes(c, word) for c in node.get("children", []))


def dump_udf_profile(spark, path: str) -> None:
    """Write the perf profiler's per-UDF statistics
    (``spark.sql.pyspark.udf.profiler=perf``) under ``path``."""
    os.makedirs(path, exist_ok=True)
    spark.profile.dump(path, type="perf")
