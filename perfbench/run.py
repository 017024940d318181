#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 3 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload

With ``--trace 0`` the last stdout line holds the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a separate traced run. The line
before it is the full record: attestation, sample counts and the
workload's own metric names. Exit code 0 only when every output check
passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402
from perfbench.metrics import WORKLOADS, end_to_end, per_layer, workload_named  # noqa: E402


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=3.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _run_child(args, workload: str, trace: int) -> tuple[int, dict]:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, check=False, stdout=subprocess.PIPE, text=True)
    sys.stdout.write(proc.stdout)
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1]) if lines else {}
    except json.JSONDecodeError:
        return proc.returncode or 1, {}


def run_all(args) -> int:
    """Each workload in its own process (its own JVM), one after another.
    With ``--trace 1`` each runs untraced and then traced, and the tracing
    overhead is printed."""
    worst = 0
    for name in WORKLOADS:
        rc, plain = _run_child(args, name, 0)
        worst = max(worst, rc)
        if args.trace:
            rc, traced = _run_child(args, name, 1)
            worst = max(worst, rc)
            if plain.get("metrics") and traced.get("metrics"):
                over = (traced["metrics"]["trace.cpu_ms_per_op"]["value"]
                        - plain["metrics"]["cpu_ms_per_op"]["value"])
                print(f"{name + ' trace.overhead_cpu_ms':32s} {over:16.4f} ms")
    return worst


def _log(t_start: float, what: str) -> None:
    print(f"perfbench: {what} at {time.perf_counter() - t_start:.1f}s", file=sys.stderr, flush=True)


def run_one(args) -> int:
    t_start = time.perf_counter()
    try:
        import petfinder_database_distributor_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package under test is not importable: {exc}", file=sys.stderr)
        return 2
    tmp = common.temp_root()
    common.prepare_env(tmp)
    from perfbench.trace import JobGroups, Tracer, dump_udf_profile, parse_event_log
    from perfbench.w_curate import Curate
    from perfbench.w_ingest import Ingest
    from perfbench.w_serve import Serve

    traced = bool(args.trace)
    # kept after the run (the rest of tmp is removed): spans and UDF profile
    trace_dir = os.path.join(os.path.dirname(tmp), "traces", f"{args.workload}-seed{args.seed}")
    try:
        with common.PeakRss() as rss:
            clock = common.Clock()
            spark = common.start_spark(tmp, traced)
            session_s, session_cpu_s = clock.lap()
            _log(t_start, "session started")
            record = {"attestation": common.attestation(args.seed, args.workload, traced)}
            tracer, groups = Tracer(traced), JobGroups(spark, traced)
            cls = {"ingest": Ingest, "serve": Serve, "curate": Curate}[args.workload]
            wl = cls(spark, tmp, args.seed, tracer, groups)
            try:
                setup = dict(wl.setup(), session_s=session_s, session_cpu_s=session_cpu_s)
                _log(t_start, "set up")
                result = wl.run(args.seconds)
                _log(t_start, "measured")
                failed, notes = wl.check()
                _log(t_start, "checked")
                layer = wl.layer_counts() if traced else {}
                if traced:
                    dump_udf_profile(spark, os.path.join(trace_dir, "udf_profile"))
                # after the workload, so the JVM is warm and the run untouched
                record["attestation"]["floor_s"] = common.calibration_floor_s(spark)
            finally:
                wl.close()
            common.stop_spark(spark)
            _log(t_start, "stopped")
        record["attestation"]["loadavg_after"] = list(os.getloadavg())
        if traced:
            layer["eventlog"] = parse_event_log(os.path.join(tmp, "eventlog"))
            tracer.dump(os.path.join(trace_dir, "spans.json"))
        attempted = result["attempted"]
        record.update(setup=setup, result=result, failed=failed, notes=notes)
        record["peak_rss_mb"] = rss.peak / 2**20
        if traced:
            record["layer"] = layer
        metrics = per_layer(record, layer) if traced else end_to_end(args.workload, record)
        shown = metrics if traced else {**metrics, **workload_named(args.workload, record)}
        for name, m in shown.items():
            print(f"{name:32s} {m['value']:16.4f} {m['unit']}")
        print(json.dumps(record, default=str))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main(argv=None) -> int:
    """Run, then wait for every process the run started, on every way out."""
    args = _parse(argv)
    common.become_subreaper()
    try:
        return run_all(args) if args.workload == "all" else run_one(args)
    finally:
        left = common.reap_descendants()
        if left:
            print(f"perfbench: stopped {len(left)} leftover processes", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
