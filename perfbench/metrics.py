"""Metric names, units and how each workload fills them.

The bounded end-to-end metrics share one set of names across workloads
(every untraced run reports all of them; README.md says what each
workload puts under each name). They are CPU seconds of the run's process
tree: on a box shared with other guests, wall times of the same run moved
by 2-3x with the host's load, CPU times by a few percent.
``workload_named`` prints the workload's own figures under its own names:
the wall-clock latencies, rates and freshness, the tails, peak memory and
the failed share, none of them bounded.
"""

from __future__ import annotations

import re

WORKLOADS = ("ingest", "serve", "curate")
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# name -> unit
END_TO_END = {
    "setup_s": "s",
    "cpu_ms_per_op": "ms",
    "rows_per_cpu_s": "1/s",
}

PER_LAYER = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "setup.stage_s": "s",
    "plan.build_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "pages.enumerated": "count",
    "links.fanned_out": "count",
    "dedup.known_key_share": "ratio",
    "ingest.useful_ratio": "ratio",
    "fetch.docs": "count",
    "fetch.failed": "count",
    "python_udf.s": "s",
    "arrow.bytes_to_python": "bytes",
    "arrow.bytes_from_python": "bytes",
    "filters.dropped_placeholder": "count",
    "filters.dropped_null_ratio": "count",
    "verify.rows_checked": "count",
    "verify.rows_dead": "count",
    "snapshot.merge_s": "s",
    "snapshot.commit_ms": "ms",
    "snapshot.bytes_written": "bytes",
    "snapshot.write_amp": "ratio",
    "snapshot.files_per_version": "count",
    "snapshot.manifest_bytes": "bytes",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "gc_s": "s",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "spill_bytes": "bytes",
    "exchanges": "count",
    "serve.ttfb_ms": "ms",
    "serve.body_ms": "ms",
    "serve.resp_bytes": "bytes",
    "serve.hit_ms": "ms",
    "serve.miss_ms": "ms",
    "serve.load_snapshot_rows_ms": "ms",
    "serve.gen_late_ms": "ms",
    "serve.max_inflight": "count",
    "curate.dedup_minhash_lsh.s": "s",
    "curate.stream_windowed_totals.s": "s",
    "curate.dedup_minhash_lsh.candidate_pairs": "count",
    "stream.triggers": "count",
    "stream.addBatch_ms": "ms",
    "stream.queryPlanning_ms": "ms",
    "stream.walCommit_ms": "ms",
    "stream.getBatch_ms": "ms",
    "trace.p50_ms": "ms",
    "trace.cpu_ms_per_op": "ms",
}

_EVENTLOG = ("executor.run_s", "executor.cpu_s", "gc_s", "shuffle.read_bytes",
             "shuffle.write_bytes", "spill_bytes", "exchanges", "python_udf.s",
             "arrow.bytes_to_python", "arrow.bytes_from_python")


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def setup_seconds(setup: dict, kind: str = "") -> float:
    """Session start, the median initial build, registry load (curate) and
    warm-up; ``kind`` "_cpu" gives CPU seconds, "" wall seconds."""
    return sum(setup.get(f"{part}{kind}_s", 0.0)
               for part in ("session", "stage", "registry", "warmup"))


def end_to_end(workload: str, record: dict) -> dict[str, dict]:
    """The bounded figures of an untraced run, by generic name."""
    res = record["result"]
    if workload == "ingest":
        op, rate = 1e3 * res["batch_cpu"]["p50"], res["rows_per_cpu_s"]
    elif workload == "serve":
        op, rate = res["cpu_ms_per_request"], res["rows_per_cpu_s"]
    else:
        op, rate = 1e3 * res["pass_cpu_mean_s"], res["input_rows_per_cpu_s"]
    fig = {"setup_s": setup_seconds(record["setup"], "_cpu"), "cpu_ms_per_op": op,
           "rows_per_cpu_s": rate}
    return {name: _m(fig[name], unit) for name, unit in END_TO_END.items()}


def workload_named(workload: str, record: dict) -> dict[str, dict]:
    """Every end-to-end figure of the run under the workload's own names.
    Tails print under fixed names; the record holds the percentile used
    (``tail_p``) and the sample count (``n``)."""
    res = record["result"]
    share = record["failed"] / max(res["attempted"], 1)
    # unbounded: the JVM heap grows or not with GC timing, so the peak of
    # one workload moved by about 2x between seeds
    out: dict[str, dict] = {"setup_wall_s": _m(setup_seconds(record["setup"]), "s"),
                            "peak_rss_mb": _m(record["peak_rss_mb"], "MB")}
    if workload == "ingest":
        out.update({
            "ingest.rows_per_s": _m(res["rows_per_s"], "1/s"),
            "ingest.batch_p50_s": _m(res["batch"]["p50"], "s"),
            "ingest.batch_tail_s": _m(_tail_or_max(res["batch"]), "s"),
            "ingest.verify_s": _m(res["verify"]["p50"], "s"),
            "ingest.failed_share": _m(share, "ratio"),
        })
    elif workload == "serve":
        out.update({
            "serve.p50_ms": _m(res["base"]["p50"], "ms"),
            "serve.tail_ms": _m(_tail_or_max(res["base"]), "ms"),
            "serve.max_rps": _m(res["max_rps"], "1/s"),
            "serve.capacity_rps": _m(res["capacity_rps"], "1/s"),
            "serve.freshness_p50_ms": _m(res["freshness"]["p50"], "ms"),
            "serve.rows_per_s": _m(res["rows_per_s"], "1/s"),
            "serve.failed_share": _m(share, "ratio"),
        })
    else:
        out.update({
            "curate.s": _m(res["pass_p50_s"], "s"),
            "curate.stream_ms": _m(res["stream_p50_ms"], "ms"),
            "curate.rows_per_s": _m(res["input_rows_per_s"], "1/s"),
            "curate.failed_share": _m(share, "ratio"),
        })
    return out


def _tail_or_max(s: dict) -> float:
    """The highest percentile with ten samples beyond it; with fewer than
    20 samples there is none, and the maximum stands in."""
    return s["tail"] if s["tail"] is not None else s["max"]


def per_layer(record: dict, layer: dict) -> dict[str, dict]:
    """Every per-layer metric; a layer the workload does not reach reads 0."""
    values = {name: 0.0 for name in PER_LAYER}
    values["session.start_s"] = record["setup"]["session_s"]
    values["setup.stage_s"] = record["setup"]["stage_s"]
    values["registry.load_s"] = record["setup"].get("registry_s", 0.0)
    values["trace.p50_ms"] = layer.get("trace.p50_ms", 0.0)
    for name in PER_LAYER:
        if name in layer and isinstance(layer[name], (int, float)):
            values[name] = layer[name]
    measured = set(layer.get("measured_groups", ()))
    for group, totals in layer.get("eventlog", {}).items():
        if group in measured:
            for name in _EVENTLOG:
                values[name] += totals.get(name, 0.0)
    return {name: _m(values[name], unit) for name, unit in PER_LAYER.items()}
