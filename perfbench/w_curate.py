"""``curate``: registered LLM-pipeline queries over a seeded corpus.

Each pass runs every query of ``QUERIES`` through ``registry.load_all()``
and forces it with a ``noop`` write, as ``bench.py`` does. The corpus is a
documents table generated from the seed (``gen.documents``); the queries
read nothing else. The work is shuffle-, candidate- and trigger-bound and
touches neither the commit loop of ``ingest`` nor the server of ``serve``.
"""

from __future__ import annotations

import os
import time

from perfbench import gen
from perfbench.common import ROOT, Clock, median

# dedup_minhash_lsh reaches operators.dedup_fuzzy (MinHash signatures, the
# LSH candidate join, exact-Jaccard verify); stream_windowed_totals reaches
# streaming.incremental (events staged as four chunks, read as a file
# stream two chunks a trigger, stateful day x event-type windows).
QUERIES = ("dedup_minhash_lsh", "stream_windowed_totals")
STREAM_QUERY = "stream_windowed_totals"
DOCS = 1000  # twice the repo's sf0.01 documents table
EVENTS = 10_000  # the repo's sf0.01 events table
MIN_PASSES = 2
TRACE_PASSES = 1  # a traced run does a fixed amount of work
SETUP_REPS = 3
_SCHEMAS = {
    "documents": (("doc_id", "int64"), ("text", "string"), ("lang", "string"),
                  ("source", "string"), ("n_chars", "int64")),
    "events": (("event_id", "int64"), ("ts", "timestamp[us]"), ("user_id", "int64"),
               ("event_type", "string"), ("value", "float64"), ("props", "string")),
}


def _oracle_helpers():
    """``run_oracle`` and ``assert_parity`` from the repo's
    ``tests/oracle_compare.py``, loaded read-only by path (another package
    named ``tests`` may shadow the repo's directory)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle_compare", os.path.join(ROOT, "tests", "oracle_compare.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.run_oracle, mod.assert_parity


class _StreamProgress:
    """Collects the run ids of started streaming queries and their progress
    events (traced run only)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        started = self.started = []
        ended = self.ended = set()
        events = self.events = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                started.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                events.append({"run": str(p.runId), "batch": p.batchId,
                               "rows": p.numInputRows, "durations_ms": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                ended.add(str(event.runId))

        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def settle(self, timeout_s: float = 30.0) -> None:
        """Events reach Python asynchronously, in order: once every started
        query's termination has arrived, so have its progress events."""
        deadline = time.perf_counter() + timeout_s
        while not self.ended.issuperset(self.started) and time.perf_counter() < deadline:
            time.sleep(0.1)


class Curate:
    def __init__(self, spark, tmp: str, seed: int, tracer, groups):
        self.spark, self.tmp, self.seed = spark, tmp, seed
        self.tracer, self.groups = tracer, groups
        self.data = os.path.join(tmp, "curate")
        self.specs = None
        self.oracles = {}
        self.progress = _StreamProgress(spark) if tracer.enabled else None

    # ------------------------------------------------------------ setup
    def _stage(self, path: str) -> None:
        """The seeded documents and events tables as parquet, plus empty
        files for the other testdata tables (``run_oracle`` opens a view on
        every one of them)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from petfinder_database_distributor_spark.schema import TESTDATA_TABLES

        os.makedirs(path, exist_ok=True)
        tables = {"documents": gen.documents(self.seed, DOCS), "events": gen.events(self.seed, EVENTS)}
        empty = pa.table({"unused": pa.array([], pa.int64())})
        for t in TESTDATA_TABLES:
            out = os.path.join(path, f"{t}.parquet")
            if t in tables:
                pq.write_table(pa.Table.from_pylist(tables[t], pa.schema(_SCHEMAS[t])), out)
            else:
                pq.write_table(empty, out)

    def setup(self) -> dict:
        """Stage the tables (repeated; the median counts), load the
        registry, compute the oracles, then the warm-up pass, whose results
        are the ones checked."""
        builds = []
        for rep in range(SETUP_REPS):
            path = self.data if rep == SETUP_REPS - 1 else os.path.join(self.tmp, f"build{rep}")
            clock = Clock()
            with self.tracer.span("setup.stage"):
                self._stage(path)
            builds.append(clock.lap())
        clock = Clock()
        with self.tracer.span("registry.load"):
            from petfinder_database_distributor_spark import registry

            self.specs = registry.load_all()
        registry_s, registry_cpu_s = clock.lap()
        self._redirect_scratch()
        run_oracle, _ = _oracle_helpers()
        for name in QUERIES:
            self.oracles[name] = run_oracle(self.specs[name].oracle, self.data)
        clock = Clock()
        self.checked = self._checked_pass()
        warm_s, warm_cpu_s = clock.lap()
        return {"stage_s": median([w for w, _ in builds]), "registry_s": registry_s,
                "warmup_s": warm_s, "stage_cpu_s": median([c for _, c in builds]),
                "registry_cpu_s": registry_cpu_s, "warmup_cpu_s": warm_cpu_s}

    def _redirect_scratch(self) -> None:
        """The queries stage chunks, checkpoints and index tables under the
        package's ``SCRATCH_ROOT``; point it into this run's temp root."""
        from petfinder_database_distributor_spark.plans import streaming_plans
        from petfinder_database_distributor_spark.streaming import incremental

        root = os.path.join(self.tmp, "stream_scratch")
        os.makedirs(root, exist_ok=True)
        incremental.SCRATCH_ROOT = streaming_plans.SCRATCH_ROOT = root

    # ------------------------------------------------------------ the passes
    def _pass(self, tag: str) -> tuple[dict[str, float], dict[str, float]]:
        """Every query once, forced with a noop write. Returns per-query wall
        seconds and seconds spent in the query call before the write."""
        wall, build = {}, {}
        for name in QUERIES:
            with self.groups.group(f"{tag}-{name}"), self.tracer.span(f"query.{name}"):
                t0 = time.perf_counter()
                df = self.specs[name].fn(self.spark, self.data)
                build[name] = time.perf_counter() - t0
                df.write.mode("overwrite").format("noop").save()
                wall[name] = time.perf_counter() - t0
        return wall, build

    def run(self, seconds: float) -> dict:
        """Passes start until ``seconds`` have passed (at least
        ``MIN_PASSES``); a traced run does ``TRACE_PASSES``."""
        traced = self.tracer.enabled
        self.walls, self.builds, self.triggers, self.stream_runs = [], [], [], []
        self.cpus = []
        t_start = time.perf_counter()
        i = 1
        while True:
            before = len(self.progress.started) if traced else 0
            clock = Clock()
            wall, build = self._pass(f"pass{i}")
            self.cpus.append(clock.lap()[1])
            self.walls.append(wall)
            self.builds.append(build)
            if traced:
                self.progress.settle()
                runs = self.progress.started[before:]
                self.stream_runs.append(runs)
                # a trailing no-data trigger comes and goes with timing
                self.triggers.append([e for e in self.progress.events
                                      if e["run"] in runs and e["rows"]])
            if (traced and i >= TRACE_PASSES) or (
                not traced and i >= MIN_PASSES and time.perf_counter() - t_start >= seconds
            ):
                break
            i += 1
        pass_s = [sum(w.values()) for w in self.walls]
        return {
            # each query of the checked pass and of each timed pass
            "attempted": len(QUERIES) * (1 + len(self.walls)),
            "passes": len(self.walls),
            "pass_s": pass_s,
            "pass_p50_s": median(pass_s),
            "query_s": {q: [w[q] for w in self.walls] for q in QUERIES},
            # events staged -> their windowed totals queryable
            "stream_p50_ms": 1e3 * median([w[STREAM_QUERY] for w in self.walls]),
            "input_rows_per_s": (DOCS + EVENTS) / median(pass_s),
            # JIT compilation still moves CPU from pass to pass (~15, ~11,
            # ~9 s); their sum moves far less than any one pass
            "pass_cpu_s": self.cpus,
            "pass_cpu_mean_s": sum(self.cpus) / len(self.cpus),
            "input_rows_per_cpu_s": (DOCS + EVENTS) * len(self.cpus) / sum(self.cpus),
        }

    # ------------------------------------------------------------ correctness
    def _checked_pass(self) -> tuple[int, list[str]]:
        """The first pass, untimed: each query's rows against its DuckDB
        oracle through ``assert_parity``. A mismatch or an error fails the
        query. The timed passes then re-run the same calls on the same
        inputs into a noop sink."""
        _, assert_parity = _oracle_helpers()
        failed, notes = 0, []
        for name in QUERIES:
            try:
                with self.groups.group(f"check-{name}"):
                    assert_parity(self.specs[name].fn(self.spark, self.data),
                                  self.oracles[name], name)
            except Exception as exc:  # noqa: BLE001 — a failed query is a failed operation
                failed += 1
                notes.append(f"{type(exc).__name__}: {exc}"[:300])
        return failed, notes

    def check(self) -> tuple[int, list[str]]:
        return self.checked

    # ------------------------------------------------------------ traced figures
    def _candidate_pairs(self) -> int:
        """LSH candidate pairs of dedup_minhash_lsh (band-bucket collisions,
        id_a < id_b, before the exact-Jaccard verify), rebuilt from the
        operator's own stages in a job group of its own."""
        from pyspark.sql import functions as F

        from petfinder_database_distributor_spark.operators.dedup_fuzzy import (
            hash_shingles,
            minhash_band_buckets,
            with_shingles,
        )
        from petfinder_database_distributor_spark.schema import load_table

        docs = load_table(self.spark, self.data, "documents")
        sh = with_shingles(docs, "doc_id", "text", 3).select(
            "doc_id", hash_shingles(F.col("sh")).alias("sh"))
        b = minhash_band_buckets(sh, "doc_id", 32, 16, pre_hashed=True).localCheckpoint(eager=True)
        a = b.select(F.col("doc_id").alias("id_a"), "band", "bh")
        c = b.select(F.col("doc_id").alias("id_b"), "band", "bh")
        pairs = a.join(c, ["band", "bh"]).filter(F.col("id_a") < F.col("id_b"))
        return pairs.select("id_a", "id_b").distinct().count()

    def layer_counts(self) -> dict:
        out: dict = {}
        for q in QUERIES:
            out[f"curate.{q}.s"] = median([w[q] for w in self.walls])
        out["plan.build_ms"] = 1e3 * median([sum(b.values()) for b in self.builds])
        with self.groups.group("shadow-candidates"):
            out["curate.dedup_minhash_lsh.candidate_pairs"] = self._candidate_pairs()
        out["stream.triggers"] = median([len(t) for t in self.triggers])
        for key in ("addBatch", "queryPlanning", "walCommit", "getBatch"):
            per = [e["durations_ms"].get(key, 0.0) for t in self.triggers for e in t]
            out[f"stream.{key}_ms"] = median(per) if per else 0.0
        # a stream's micro-batch jobs run in a job group named by its run id
        per_pass, measured = [], []
        for i, runs in enumerate(self.stream_runs, 1):
            groups = [g for g in self.groups.groups if g.startswith(f"pass{i}-")] + runs
            counts = [self.groups.counts(g) for g in groups]
            per_pass.append({k: sum(c[k] for c in counts) for k in ("jobs", "stages", "tasks")})
            out[f"spark.jobs_pass{i}"] = dict(zip(groups, (c["jobs"] for c in counts)))
            measured += groups
        for k in ("jobs", "stages", "tasks"):
            out[f"spark.{k}"] = median([p[k] for p in per_pass])
        out["measured_groups"] = measured
        out["trace.p50_ms"] = 1e3 * median([sum(w.values()) for w in self.walls])
        out["trace.cpu_ms_per_op"] = 1e3 * sum(self.cpus) / len(self.cpus)
        return out

    def close(self) -> None:
        if self.progress is not None:
            self.spark.streams.removeListener(self.progress.listener)
