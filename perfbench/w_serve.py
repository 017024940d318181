"""``serve``: open-loop reads of a snapshot-backed ``PetServer`` beside a
writer.

The server runs in its own process (``perfbench.serve_child``). The load
is mostly authorised ``/pets``, plus ``/pets.csv``, ``/pets?version=``
against versions older than the server's 4-entry snapshot cache, and
wrong-key requests that must get 401. A writer thread in this process
commits a small upsert through ``snapshot_merge`` every
``COMMIT_EVERY_S``. The base rate runs for the window (at least
``MIN_BASE_REQUESTS``), then a rung at a higher rate that measures
capacity.

No production trace exists for this server, so the traffic below is
assumed; README.md lists each figure, where it comes from and why.
"""

from __future__ import annotations

import csv
import io
import json
import os
import random
import subprocess
import sys
import threading
import time

from perfbench import gen
from perfbench.common import ROOT, Clock, median, nproc, proc_cpu_s, summary
from perfbench.loadgen import OpenLoop, Request, backlog_grew, schedule
from perfbench.trace import snapshot_figures, wrap_commit

# Sized from the one recorded figure, a 2 MB /pets body: 2,000 generated
# pets encode to ~1.8 MB.
TABLE_ROWS = 2000
# Assumed: a commit of 20 new pets and 10 changed ones every 2 s.
NEW_PER_COMMIT = 20
UPDATES_PER_COMMIT = 10
COMMIT_EVERY_S = 2.0
SETUP_VERSIONS = 5  # v0 .. v4 exist before the load starts
# The server completed 24-37 requests/s above capacity on a 4-core box,
# depending on the box's other load; 10/s keeps the base rate well below.
BASE_RATE = 10.0
MIN_BASE_REQUESTS = 100  # a p90 with ten samples beyond it
LADDER = (4.0,)  # multiples of the base rate: ~150% of capacity
RUNG_S = 2.0
CAPACITY_RUNGS = 1  # the top rung offers more than the server completes
TAIL_LIMIT_MS = 500.0
TIMEOUT_S = 10.0
SETUP_REPS = 3
# Assumed request mix (shares of all requests).
MIX = (("pets", 0.80), ("csv", 0.08), ("old", 0.07), ("badkey", 0.05))
API_KEY = "perfbench-key"


class Serve:
    def __init__(self, spark, tmp: str, seed: int, tracer, groups):
        from petfinder_database_distributor_spark.schema import PETS_FIELDS

        self.spark, self.tmp, self.seed = spark, tmp, seed
        self.tracer, self.groups = tracer, groups
        self.cols = [*PETS_FIELDS, "batch"]
        self.table = os.path.join(tmp, "pets")
        self.artifact = os.path.join(tmp, "pets_csv")
        self.spans_path = os.path.join(tmp, "server_spans.json")
        self.versions: list[dict[str, dict]] = []  # golden table per version
        self.commits: list[tuple[int, float]] = []  # (version, pointer swap done)
        self.commit_errors: list[str] = []
        self.proc = None
        # separate streams: the writer thread draws while requests are made
        self.rng = random.Random(f"{seed}:serve")
        self.writer_rng = random.Random(f"{seed}:writer")
        self.next_key = 1
        self.layer: dict[str, list[float]] = {}
        if tracer.enabled:
            wrap_commit(tracer)

    # ------------------------------------------------------------ golden + writes
    def _rows(self, n: int, batch: int) -> list[dict]:
        rows = []
        while len(rows) < n:
            key, self.next_key = self.next_key, self.next_key + 1
            if gen.pet_kind(self.seed, key) in ("partial", "full"):
                rec = gen.pet_record(self.seed, key, "dog" if key % 2 else "cat")
                rows.append(dict(rec, batch=batch))
        return rows

    def _frame(self, rows: list[dict]):
        schema = ", ".join(
            f"{c} {'boolean' if c in gen.BOOL_FIELDS else 'int' if c == 'batch' else 'string'}"
            for c in self.cols
        )
        return self.spark.createDataFrame([tuple(r[c] for c in self.cols) for r in rows], schema)

    def _commit(self) -> None:
        """One writer commit: new pets plus renamed existing ones."""
        from petfinder_database_distributor_spark.sources.snapshot import snapshot_merge

        v = len(self.versions)
        table = dict(self.versions[-1])
        upd = [dict(table[link], name=f"{table[link]['name']} {v}", batch=v)
               for link in self.writer_rng.sample(sorted(table), UPDATES_PER_COMMIT)]
        rows = upd + self._rows(NEW_PER_COMMIT, v)
        got = snapshot_merge(self.spark, self.table, self._frame(rows), ["link"], ["batch"])
        if got != v:
            raise RuntimeError(f"commit landed as v{got}, expected v{v}")
        table.update((r["link"], r) for r in rows)
        self.versions.append(table)

    def _writer(self, t0: float, stop: threading.Event) -> None:
        """Commit at ``t0 + k * COMMIT_EVERY_S``: the same offsets into the
        load schedule on every run."""
        k = 0
        while True:
            k += 1
            if stop.wait(max(0.0, t0 + k * COMMIT_EVERY_S - time.perf_counter())):
                return
            with self.tracer.span("writer.commit"), self.groups.group(f"commit-{k}"):
                try:
                    self._commit()
                except Exception as exc:  # noqa: BLE001 — recorded as a failed operation
                    self.commit_errors.append(f"{type(exc).__name__}: {exc}")
                    return
            self.commits.append((len(self.versions) - 1, time.perf_counter()))
            if self.tracer.enabled:
                fig = snapshot_figures(self.table, len(self.versions) - 1)
                fig["snapshot.write_amp"] = len(self.versions[-1]) / (
                    NEW_PER_COMMIT + UPDATES_PER_COMMIT)
                for name, value in fig.items():
                    self.layer.setdefault(name, []).append(value)

    # ------------------------------------------------------------ setup
    def setup(self) -> dict:
        from petfinder_database_distributor_spark.sources.export import (
            encode_for_export,
            write_csv_table,
        )
        from petfinder_database_distributor_spark.sources.snapshot import (
            snapshot_merge,
            snapshot_read,
        )

        builds = []
        for rep in range(SETUP_REPS):
            self.next_key = 1
            rows = self._rows(TABLE_ROWS, 0)
            path = self.table if rep == SETUP_REPS - 1 else os.path.join(self.tmp, f"build{rep}")
            clock = Clock()
            with self.tracer.span("setup.stage"):
                snapshot_merge(self.spark, path, self._frame(rows), ["link"], ["batch"])
            builds.append(clock.lap())
        self.versions = [{r["link"]: r for r in rows}]
        clock = Clock()
        strings = [c for c in self.cols if c not in gen.BOOL_FIELDS and c != "batch"]
        write_csv_table(
            encode_for_export(snapshot_read(self.spark, self.table, 0), strings, gen.BOOL_FIELDS,
                              text_cols=["about_me"], column_order=self.cols[:-1]),
            self.artifact, single_file=True,
        )
        for _ in range(SETUP_VERSIONS - 1):
            self._commit()
        self._start_server()
        # warm-up: fill the server's cache for the latest version
        warm = OpenLoop("127.0.0.1", self.port, 1, TIMEOUT_S)
        now = time.perf_counter()
        warm.run([Request(now, f"/pets?key={API_KEY}", "pets") for _ in range(5)])
        warm_s, warm_cpu_s = clock.lap()
        return {"stage_s": median([w for w, _ in builds]), "warmup_s": warm_s,
                "stage_cpu_s": median([c for _, c in builds]), "warmup_cpu_s": warm_cpu_s}

    def _start_server(self) -> None:
        cmd = [sys.executable, "-m", "perfbench.serve_child", "--artifact", self.artifact,
               "--snapshot-dir", self.table, "--key", API_KEY]
        if self.tracer.enabled:
            cmd += ["--spans", self.spans_path]
        self.proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, text=True)
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            raise RuntimeError(f"server did not start: {line!r}")
        self.port = int(line.split()[1])

    def close(self) -> None:
        if self.proc is not None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=20)
            self.proc = None

    # ------------------------------------------------------------ load
    def _kinds(self, n: int) -> list[str]:
        """``n`` request kinds in the shares of ``MIX`` (rounded), in an
        order drawn from the seed: every seed sends the same mix."""
        kinds = [kind for kind, share in MIX[1:] for _ in range(round(share * n))]
        kinds += [MIX[0][0]] * (n - len(kinds))
        self.rng.shuffle(kinds)
        return kinds

    def _requests(self, t0: float, rate: float, n: int) -> list[Request]:
        out = []
        for due, kind in zip(schedule(t0, rate, n), self._kinds(n)):
            key = API_KEY if kind != "badkey" else "wrong-" + str(self.rng.randrange(10**6))
            if kind == "old":
                # versions on the writer's schedule at the due time, so the
                # choice depends on the seed alone
                n_versions = SETUP_VERSIONS + max(0, int((due - self.t_writer) / COMMIT_EVERY_S))
                v = self.rng.randrange(0, n_versions - 4)
                out.append(Request(due, f"/pets?key={key}&version={v}", kind, v))
            elif kind == "csv":
                out.append(Request(due, "/pets.csv", kind, headers={"X-API-Key": key}))
            else:
                out.append(Request(due, f"/pets?key={key}", kind))
        for i, r in enumerate(out):
            r.headers["X-Request-Id"] = f"{rate:g}-{i}"
        return out

    def run(self, seconds: float) -> dict:
        loop = OpenLoop("127.0.0.1", self.port, nproc(), TIMEOUT_S)
        self.loop = loop
        stop = threading.Event()
        t0 = self.t_writer = time.perf_counter() + 0.05
        writer = threading.Thread(target=self._writer, args=(t0, stop), daemon=True)
        writer.start()
        rungs, server_cpu = [], []
        try:
            for mult in (1.0, *LADDER):
                rate = BASE_RATE * mult
                n = (max(MIN_BASE_REQUESTS, int(rate * seconds)) if mult == 1.0
                     else int(rate * RUNG_S))
                reqs = self._requests(t0, rate, n)
                cpu0 = proc_cpu_s(self.proc.pid)
                with self.tracer.span(f"rung.{rate:g}"):
                    outcomes = loop.run(reqs)
                server_cpu.append(proc_cpu_s(self.proc.pid) - cpu0)
                rungs.append((rate, outcomes))
                # the next rung is due where this one's schedule ended
                t0 = max(reqs[-1].due + 1.0 / rate, time.perf_counter())
        finally:
            stop.set()
            writer.join(timeout=60)
        self.rungs, self.server_cpu = rungs, server_cpu
        ladder, max_rps = [], 0.0
        for rate, outs in rungs:
            s = summary([1e3 * o.latency_s for o in outs])
            met = s["tail"] is not None and s["tail"] <= TAIL_LIMIT_MS and not backlog_grew(
                outs, TAIL_LIMIT_MS / 1e3)
            done = [o.done for o in outs if o.ok]
            achieved = len(done) / (max(done) - outs[0].req.due) if done else 0.0
            ladder.append({"rate": rate, "tail_p": s["tail_p"], "tail_ms": s["tail"],
                           "met": met, "achieved": achieved})
        for rung in ladder:
            if not rung["met"]:
                break
            max_rps = rung["rate"]
        fresh = self._freshness_ms()
        return {
            "attempted": sum(len(o) for _, o in rungs) + len(self.versions) - SETUP_VERSIONS
            + len(self.commit_errors),
            "base": summary([1e3 * o.latency_s for o in rungs[0][1]]),
            "ladder": ladder,
            "max_rps": max_rps,
            "capacity_rps": _capacity(rungs[-CAPACITY_RUNGS:]),
            "rows_per_s": self._rows_per_s(rungs[-CAPACITY_RUNGS:]),
            # CPU the server process spent per request, and pet rows it
            # delivered per CPU second, at the base rate; above capacity its
            # CPU per request grows with the queue, which the host's load sets
            "server_cpu_s": server_cpu,
            "cpu_ms_per_request": 1e3 * server_cpu[0] / len(rungs[0][1]),
            "rows_per_cpu_s": self._rows_delivered(rungs[:1])[0] / server_cpu[0],
            "commits": len(self.commits),
            "freshness": summary(fresh),
            "freshness_ms": fresh,
        }

    def _rows_per_s(self, rungs) -> float:
        """Pet rows delivered in JSON bodies per second over the rungs
        offered more than the server completes."""
        rows, busy = self._rows_delivered(rungs)
        return rows / busy if busy else 0.0

    def _rows_delivered(self, rungs) -> tuple[float, float]:
        """(pet rows in JSON bodies, seconds from the first due time to the
        last completion) over ``rungs``."""
        counts: dict[str, int] = {}
        rows = busy = 0.0
        for _, outs in rungs:
            ends = [o.done for o in outs if o.ok]
            if not ends:
                continue
            busy += max(ends) - outs[0].req.due
            for o in outs:
                if o.ok and o.status == 200 and o.req.kind in ("pets", "old"):
                    if o.digest not in counts:
                        counts[o.digest] = json.loads(self.loop.bodies[o.digest])["count"]
                    rows += counts[o.digest]
        return rows, busy

    def _freshness_ms(self) -> list[float]:
        """Per commit in the base-rate window: from the pointer swap, or
        from the due time of the first /pets request after it if that is
        later, to the first /pets response showing the commit. Counting
        from the later of the two leaves out the wait for the next
        scheduled request, which depends only on where the swap falls
        between due times. Ladder rungs are left out: above capacity the
        queue, not the commit, sets the time."""
        shown = self._shown_versions()
        base = self.rungs[0][1]
        outs = sorted((o for o in base if o.req.kind == "pets" and o.digest in shown),
                      key=lambda o: o.done)
        fresh = []
        for v, t_swap in self.commits:
            first = next((o for o in outs if o.done >= t_swap and shown[o.digest] >= v), None)
            if first is not None:
                fresh.append(1e3 * (first.done - max(t_swap, first.req.due)))
        return fresh

    def _shown_versions(self) -> dict[str, int]:
        """digest → version, for /pets bodies whose count names a version."""
        if getattr(self, "_shown", None) is None:
            self._shown = {}
            for digest, body in self.loop.bodies.items():
                try:
                    count = json.loads(body).get("count")
                except (ValueError, AttributeError):
                    continue
                if isinstance(count, int):
                    v, rem = divmod(count - TABLE_ROWS, NEW_PER_COMMIT)
                    if rem == 0 and 0 <= v < len(self.versions):
                        self._shown[digest] = v
        return self._shown

    # ------------------------------------------------------------ correctness
    def check(self) -> tuple[int, list[str]]:
        """Every response against the golden: /pets bodies equal the
        version their count names (and no older than the last commit
        before the request was sent), ?version= bodies equal that version,
        the CSV equals the exported v0, wrong keys got 401."""
        from petfinder_database_distributor_spark.serving.http_server import AUTH_ERROR

        shown = self._shown_versions()
        good_body: dict[tuple[str, int | None], bool] = {}

        def body_is(digest: str, version: int) -> bool:
            k = (digest, version)
            if k not in good_body:
                rows = json.loads(self.loop.bodies[digest])["pets"]
                good_body[k] = _same_rows(rows, self.versions[version].values(), self.cols)
            return good_body[k]

        csv_ok = {}
        auth_body = json.dumps(AUTH_ERROR).encode()
        failed, notes = len(self.commit_errors), list(self.commit_errors)
        swaps = [t for _, t in self.commits]
        for _, outs in self.rungs:
            for o in outs:
                r, bad = o.req, ""
                if not o.ok:
                    bad = o.error
                elif r.kind == "badkey":
                    if o.status != 401 or self.loop.bodies[o.digest] != auth_body:
                        bad = f"wrong key answered {o.status}"
                elif o.status != 200:
                    bad = f"status {o.status}"
                elif r.kind == "csv":
                    if o.digest not in csv_ok:
                        csv_ok[o.digest] = self._csv_matches(self.loop.bodies[o.digest])
                    bad = "" if csv_ok[o.digest] else "csv differs from the export"
                elif r.kind == "old":
                    bad = "" if body_is(o.digest, r.version) else f"v{r.version} body differs"
                else:
                    v = shown.get(o.digest)
                    floor = SETUP_VERSIONS - 1 + sum(1 for t in swaps if t <= o.sent)
                    if v is None or not body_is(o.digest, v):
                        bad = "latest body matches no version"
                    elif v < floor:
                        bad = f"stale: served v{v} after v{floor} was committed"
                if bad:
                    failed += 1
                    if len(notes) < 5:
                        notes.append(f"{r.path}: {bad}")
        return failed, notes

    def _csv_matches(self, body: bytes) -> bool:
        want = []
        for r in self.versions[0].values():
            row = {}
            for c in self.cols[:-1]:
                v = r[c]
                if c in gen.BOOL_FIELDS:
                    v = "" if v is None else str(v)
                row[c] = v
            want.append(tuple(row[c] for c in self.cols[:-1]))
        got = [tuple(d[c] for c in self.cols[:-1])
               for d in csv.DictReader(io.StringIO(body.decode("utf-8")))]
        return sorted(got) == sorted(want)

    # ------------------------------------------------------------ traced figures
    def layer_counts(self) -> dict:
        base = self.rungs[0][1]
        ok = [o for o in base if o.ok]
        out = {
            "serve.ttfb_ms": median([1e3 * (o.first_byte - o.sent) for o in ok]),
            "serve.body_ms": median([1e3 * (o.done - o.first_byte) for o in ok]),
            "serve.resp_bytes": median([o.nbytes for o in ok]),
            "serve.gen_late_ms": summary([1e3 * o.late_s for o in ok])["tail"],
            "trace.p50_ms": median([1e3 * o.latency_s for o in base]),
            "trace.cpu_ms_per_op": 1e3 * self.server_cpu[0] / len(base),
            "snapshot.merge_s": median(self.tracer.durations("writer.commit") or [0.0]),
            "snapshot.commit_ms": 1e3 * median(self.tracer.durations("snapshot.commit") or [0.0]),
            "measured_groups": [g for g in self.groups.groups if g.startswith("commit-")],
        }
        if self.layer:
            out["snapshot.bytes_written"] = sum(self.layer["snapshot.bytes_written"])
            for name in ("snapshot.write_amp", "snapshot.files_per_version",
                         "snapshot.manifest_bytes"):
                out[name] = median(self.layer[name])
        jobs = [self.groups.counts(g) for g in out["measured_groups"]]
        for k in ("jobs", "stages", "tasks"):
            out[f"spark.{k}"] = median([j[k] for j in jobs]) if jobs else 0.0
        self.close()  # the server writes its spans on shutdown
        with open(self.spans_path) as fh:
            spans = json.load(fh)
        gets = {s["request_id"]: s for s in spans if s["name"] == "GET"}
        loads = [s for s in spans if s["name"] == "load_snapshot_rows"]
        hit = [1e3 * (gets[s["request_id"]]["end"] - gets[s["request_id"]]["start"])
               for s in loads if s["hit"] and s["request_id"] in gets]
        miss = [1e3 * (gets[s["request_id"]]["end"] - gets[s["request_id"]]["start"])
                for s in loads if not s["hit"] and s["request_id"] in gets]
        out["serve.hit_ms"] = median(hit) if hit else 0.0
        out["serve.miss_ms"] = median(miss) if miss else 0.0
        decode = [1e3 * (s["end"] - s["start"]) for s in loads if not s["hit"]]
        out["serve.load_snapshot_rows_ms"] = median(decode) if decode else 0.0
        out["serve.max_inflight"] = _max_overlap(list(gets.values()))
        return out


def _capacity(rungs) -> float:
    """Completions per second over rungs offered more than the server can
    do: from the first due time to the last completion of each rung."""
    done = busy = 0.0
    for _, outs in rungs:
        ends = [o.done for o in outs if o.ok]
        if ends:
            done += len(ends)
            busy += max(ends) - outs[0].req.due
    return done / busy if busy else 0.0


def _same_rows(got: list[dict], want, cols: list[str]) -> bool:
    key = lambda rows: sorted(tuple(repr(r.get(c)) for c in cols) for r in rows)  # noqa: E731
    return key(got) == key(want)


def _max_overlap(spans: list[dict]) -> int:
    edges = sorted([(s["start"], 1) for s in spans] + [(s["end"], -1) for s in spans])
    cur = best = 0
    for _, d in edges:
        cur += d
        best = max(best, cur)
    return best
