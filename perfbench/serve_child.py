"""The serving process: ``serving.http_server.serve_export`` over the
snapshot table, in a process of its own.

    python3 -m perfbench.serve_child --artifact DIR --snapshot-dir DIR --key K [--spans FILE]

Prints ``PORT <n>`` once listening, serves until its stdin closes, then
shuts down. With ``--spans`` it records, in memory, one span per GET
(request id from the ``X-Request-Id`` header) and one per
``load_snapshot_rows`` call marked hit or miss, and writes them to FILE on
shutdown.
"""

from __future__ import annotations

import argparse
import json
import sys
import threading
import time


def _instrument(http_server, spans: list, lock: threading.Lock) -> None:
    from petfinder_database_distributor_spark.sources.snapshot import latest_version

    handler = http_server.PetServingHandler
    plain_get = handler.do_GET
    plain_load = http_server.load_snapshot_rows
    local = threading.local()

    def load(table_dir, version=None):
        v = latest_version(table_dir) if version is None else version
        with http_server._SNAPSHOT_CACHE_LOCK:  # noqa: SLF001
            hit = (table_dir, v) in http_server._SNAPSHOT_CACHE  # noqa: SLF001
        t0 = time.perf_counter()
        try:
            return plain_load(table_dir, version)
        finally:
            rec = {"name": "load_snapshot_rows", "start": t0, "end": time.perf_counter(),
                   "hit": hit, "version": v, "request_id": getattr(local, "rid", None)}
            with lock:
                spans.append(rec)

    def do_get(self):
        local.rid = self.headers.get("X-Request-Id")
        t0 = time.perf_counter()
        try:
            plain_get(self)
        finally:
            rec = {"name": "GET", "start": t0, "end": time.perf_counter(),
                   "request_id": local.rid}
            with lock:
                spans.append(rec)

    http_server.load_snapshot_rows = load
    handler.do_GET = do_get


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--artifact", required=True)
    ap.add_argument("--snapshot-dir", required=True)
    ap.add_argument("--key", required=True)
    ap.add_argument("--spans", default="")
    args = ap.parse_args(argv)

    from petfinder_database_distributor_spark.serving import http_server

    spans: list[dict] = []
    if args.spans:
        _instrument(http_server, spans, threading.Lock())
    httpd = http_server.serve_export(args.artifact, args.key, snapshot_dir=args.snapshot_dir)
    print(f"PORT {httpd.server_address[1]}", flush=True)
    try:
        sys.stdin.read()  # the parent closes our stdin to stop us
    finally:
        httpd.shutdown()
        httpd.server_close()
        if args.spans:
            with open(args.spans, "w") as fh:
                json.dump(spans, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
