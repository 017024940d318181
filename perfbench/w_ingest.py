"""``ingest``: the scrape loop as a closed loop with one writer.

Each micro-batch enumerates a window of generated search pages, fans out
links, drops already-committed keys (O1), fetches with the seeded fetcher,
extracts and cleans the 17 fields, validates, dedups and commits with
``snapshot_merge``. After every batch a re-verify epoch re-fetches every
row and commits the dead keys with ``snapshot_delete``.
"""

from __future__ import annotations

import os
import time

from perfbench import gen
from perfbench.common import Clock, median, summary
from perfbench.trace import snapshot_figures, wrap_commit

PAGES_PER_BATCH = 48
INITIAL_ROWS = 1500
TRACE_BATCHES = 1  # a traced run does a fixed amount of work
SETUP_REPS = 3


def _cleaned(ext):
    """Reference cleaning of the extracted strings (functions.scalars)."""
    from pyspark.sql import functions as F

    from petfinder_database_distributor_spark.functions.scalars import (
        clean_text,
        extract_name_from_about,
        parse_boolean,
    )

    keep = [c for c in ext.columns if c not in gen.SELECTORS]
    return ext.select(
        *keep,
        clean_text(extract_name_from_about(F.col("name"))).alias("name"),
        *[clean_text(F.col(c)).alias(c) for c in gen.STRING_FIELDS[1:] + gen.TEXT_FIELDS],
        *[parse_boolean(F.col(c)).alias(c) for c in gen.BOOL_FIELDS],
    )


def _fetch_extract(df, fetcher, keep):
    from pyspark.sql import functions as F

    from petfinder_database_distributor_spark.operators.extraction import html_first_text_columns
    from petfinder_database_distributor_spark.sources.fetch import fetch_documents

    fetched = df.withColumn("doc", fetch_documents(F.col("link"), fetcher)).withColumn(
        "fetch_ok", F.col("doc").isNotNull()
    )
    return _cleaned(
        html_first_text_columns(fetched, "doc", gen.SELECTORS, keep=(*keep, "fetch_ok"))
    )


class Ingest:
    def __init__(self, spark, tmp: str, seed: int, tracer, groups):
        from petfinder_database_distributor_spark.schema import PETS_FIELDS

        self.spark, self.tmp, self.seed = spark, tmp, seed
        self.tracer, self.groups = tracer, groups
        self.fields = PETS_FIELDS
        self.table = os.path.join(tmp, "pets")
        self.golden = None
        self.layer: dict[str, list[float]] = {}
        if tracer.enabled:
            wrap_commit(tracer)

    # ------------------------------------------------------------ setup
    def _initial_table(self, path: str, golden) -> None:
        from petfinder_database_distributor_spark.sources.snapshot import snapshot_merge

        rows = [tuple(r[f] for f in self.fields) + (r["batch"],) for r in golden.table.values()]
        df = self.spark.createDataFrame(rows, self._schema())
        snapshot_merge(self.spark, path, df, ["link"], ["batch"])

    def _schema(self) -> str:
        cols = [f"{f} {'boolean' if f in gen.BOOL_FIELDS else 'string'}" for f in self.fields]
        return ", ".join(cols + ["batch int"])

    def setup(self) -> dict:
        """Initial table build (repeated; the median counts). There is no
        warm-up: the measured batch is the session's first, and carries the
        compilation of the fetch, extraction and cleaning (README.md)."""
        builds = []
        for rep in range(SETUP_REPS):
            self.golden = gen.IngestGolden(self.seed, INITIAL_ROWS, PAGES_PER_BATCH)
            path = self.table if rep == SETUP_REPS - 1 else os.path.join(self.tmp, f"build{rep}")
            clock = Clock()
            with self.tracer.span("setup.stage"):
                self._initial_table(path, self.golden)
            builds.append(clock.lap())
        return {"stage_s": median([w for w, _ in builds]),
                "stage_cpu_s": median([c for _, c in builds])}

    # ------------------------------------------------------------ the loop
    def _batch(self, table: str, pages, i: int, seed: int):
        """One micro-batch, enumerate → pointer swap. Returns the plan-build
        seconds (operator calls before the commit's action), the frames the
        traced run counts, and the committed version."""
        from pyspark.sql import functions as F

        from petfinder_database_distributor_spark.functions.scalars import normalize_url
        from petfinder_database_distributor_spark.operators.dedup import (
            anti_join_new_keys,
            key_dedup,
        )
        from petfinder_database_distributor_spark.operators.extraction import explode_links_fast
        from petfinder_database_distributor_spark.operators.filters import (
            null_ratio_filter,
            placeholder_name_filter,
        )
        from petfinder_database_distributor_spark.sources.snapshot import (
            latest_version,
            snapshot_merge,
            snapshot_read,
        )

        t0 = time.perf_counter()
        tr = self.tracer
        with tr.span("batch", request_id=f"b{i}"):
            with tr.span("plan.build"):
                with tr.span("pages.enumerate"):
                    frame = self.spark.createDataFrame(
                        pages, "page int, pet_type string, url string, html string"
                    )
                links = explode_links_fast(frame, "html", keep=("page", "pet_type")).withColumn(
                    "link", normalize_url(F.col("href"))
                )
                base = latest_version(table)
                fresh = anti_join_new_keys(
                    links, snapshot_read(self.spark, table, base), ["link"]
                )
                cleaned = _fetch_extract(
                    fresh, gen.SeededFetcher(seed), keep=("page", "slot", "link", "pet_type")
                )
                placeholder_kept = placeholder_name_filter(cleaned)
                valid = null_ratio_filter(
                    placeholder_kept, gen.CHECKED_STRINGS, gen.BOOL_FIELDS
                )
                deduped = key_dedup(valid, ["link"], [F.col("page"), F.col("slot")])
                out = deduped.select(*self.fields, F.lit(i).alias("batch"))
            plan_s = time.perf_counter() - t0
            with tr.span("snapshot.merge"):
                version = snapshot_merge(self.spark, table, out, ["link"], ["batch"])
        return plan_s, (links, fresh, cleaned), version

    def _shadow_counts(self, frames) -> None:
        """Traced run only, after the batch and in its own job group: row
        counts at each layer boundary, recomputed from the batch's own
        frames (their table read is pinned to the batch's base version)."""
        from pyspark.sql import functions as F

        from petfinder_database_distributor_spark.operators.dedup import key_dedup
        from petfinder_database_distributor_spark.operators.filters import (
            null_ratio_filter,
            placeholder_name_filter,
        )

        links, fresh, cleaned = frames
        ck = cleaned.localCheckpoint(eager=True)
        n_links, n_fresh, n_docs = links.count(), fresh.count(), ck.count()
        placeholder_kept = placeholder_name_filter(ck)
        valid = null_ratio_filter(placeholder_kept, gen.CHECKED_STRINGS, gen.BOOL_FIELDS)
        n_place, n_valid = placeholder_kept.count(), valid.count()
        n_new = key_dedup(valid, ["link"], [F.col("page"), F.col("slot")]).count()
        add = self.tracer.add
        add("pages.enumerated", PAGES_PER_BATCH)
        add("links.fanned_out", n_links)
        add("dedup.known_keys", n_links - n_fresh)
        add("fetch.docs", n_docs)
        add("fetch.failed", ck.filter(~F.col("fetch_ok")).count())
        add("filters.dropped_placeholder", n_docs - n_place)
        add("filters.dropped_null_ratio", n_place - n_valid)
        add("ingest.rows_new", n_new)

    def _snapshot_counts(self, version: int, new_rows: int) -> None:
        fig = snapshot_figures(self.table, version)
        fig["snapshot.write_amp"] = len(self.golden.table) / max(new_rows, 1)
        for name, value in fig.items():
            self.layer.setdefault(name, []).append(value)

    def _verify(self, r: int):
        """One re-verify epoch; returns the (table, dead keys) frames, both
        pinned to the epoch's base version."""
        from petfinder_database_distributor_spark.operators.filters import liveness_filter
        from petfinder_database_distributor_spark.sources.snapshot import (
            latest_version,
            snapshot_delete,
            snapshot_read,
        )

        with self.tracer.span("verify"):
            base = latest_version(self.table)
            table = snapshot_read(self.spark, self.table, base).select("link")
            alive = liveness_filter(
                _fetch_extract(table, gen.SeededFetcher(self.seed, r), keep=("link",)),
                gen.CHECKED_STRINGS,
                gen.BOOL_FIELDS,
            )
            dead = table.join(alive.select("link"), "link", "left_anti")
            snapshot_delete(self.spark, self.table, dead, ["link"])
        return table, dead

    def run(self, seconds: float) -> dict:
        """Closed loop from batch 1, each batch followed by a re-verify
        epoch, until ``seconds`` have passed (at least one of each). A
        traced run does ``TRACE_BATCHES`` instead."""
        traced = self.tracer.enabled
        batch_s, verify_s, plan_s, rows = [], [], [], 0
        batch_cpu, verify_cpu = [], []
        t_start = time.perf_counter()
        i = 1
        while True:
            before = len(self.golden.table)
            pages = self.golden.next_batch(i)  # benchmark-side generation, untimed
            with self.groups.group(f"batch-{i}"):
                clock = Clock()
                plan, frames, version = self._batch(self.table, pages, i, self.seed)
                wall, cpu = clock.lap()
                batch_s.append(wall)
                batch_cpu.append(cpu)
            plan_s.append(plan)
            if traced:
                with self.groups.group(f"shadow-{i}"):
                    self._shadow_counts(frames)
                self._snapshot_counts(version, len(self.golden.table) - before)
            rows += len(self.golden.table) - before
            r = self.golden.verify_rounds + 1
            with self.groups.group(f"verify-{r}"):
                clock = Clock()
                checked, dead = self._verify(r)
                wall, cpu = clock.lap()
                verify_s.append(wall)
                verify_cpu.append(cpu)
            if traced:
                with self.groups.group(f"shadow-verify-{r}"):
                    self.tracer.add("verify.rows_checked", checked.count())
                    self.tracer.add("verify.rows_dead", dead.count())
            self.golden.verify()
            if (traced and i >= TRACE_BATCHES) or (
                not traced and time.perf_counter() - t_start >= seconds
            ):
                break
            i += 1
        busy = sum(batch_s) + sum(verify_s)
        self.plan_s, self.batch_s, self.batch_cpu = plan_s, batch_s, batch_cpu
        return {
            # the initial build, the batches and the epochs
            "attempted": 1 + len(batch_s) + len(verify_s),
            "batches": len(batch_s),
            "verify_epochs": len(verify_s),
            "batch": summary(batch_s),
            "verify": summary(verify_s),
            "rows_committed": rows,
            "rows_per_s": rows / busy,
            "batch_cpu": summary(batch_cpu),
            "verify_cpu": summary(verify_cpu),
            "rows_per_cpu_s": rows / (sum(batch_cpu) + sum(verify_cpu)),
            "batch_times_s": batch_s,
        }

    def layer_counts(self) -> dict:
        """Per-layer figures of the traced run (see README.md)."""
        c = self.tracer.counts
        out = {
            "plan.build_ms": 1e3 * median(self.plan_s),
            "snapshot.merge_s": median(self.tracer.durations("snapshot.merge")),
            "snapshot.commit_ms": 1e3 * median(self.tracer.durations("snapshot.commit")),
            "dedup.known_key_share": c["dedup.known_keys"] / max(c["links.fanned_out"], 1),
            "ingest.useful_ratio": c["ingest.rows_new"] / max(c["fetch.docs"], 1),
            "snapshot.bytes_written": sum(self.layer["snapshot.bytes_written"]),
        }
        for name in ("snapshot.write_amp", "snapshot.files_per_version", "snapshot.manifest_bytes"):
            out[name] = median(self.layer[name])
        for name in ("pages.enumerated", "links.fanned_out", "fetch.docs", "fetch.failed",
                     "filters.dropped_placeholder", "filters.dropped_null_ratio",
                     "verify.rows_checked", "verify.rows_dead"):
            out[name] = c[name]
        jobs = [self.groups.counts(g) for g in self.groups.groups if g.startswith("batch-")]
        for k in ("jobs", "stages", "tasks"):
            out[f"spark.{k}"] = median([j[k] for j in jobs])
        out["spark.jobs_per_batch"] = [j["jobs"] for j in jobs]
        out["measured_groups"] = [g for g in self.groups.groups if not g.startswith("shadow")]
        out["trace.p50_ms"] = 1e3 * median(self.batch_s)
        out["trace.cpu_ms_per_op"] = 1e3 * median(self.batch_cpu)
        return out

    def close(self) -> None:
        pass

    # ------------------------------------------------------------ correctness
    def check(self) -> tuple[int, list[str]]:
        """Final committed table vs the golden. Returns (failed, notes): a
        batch (or the initial build) fails when any row it should own is
        missing, extra or different, including a row a re-verify should
        have removed."""
        from petfinder_database_distributor_spark.sources.snapshot import snapshot_read

        got = {
            r["link"]: r
            for r in snapshot_read(self.spark, self.table).toPandas().to_dict("records")
        }
        want = self.golden.table
        bad_batches, notes = set(), []
        for link in set(got) | set(want):
            g, w = got.get(link), want.get(link)
            if g is None or w is None or any(_norm(g[f]) != _norm(w[f]) for f in (*self.fields, "batch")):
                bad_batches.add((g or w)["batch"])
                if len(notes) < 5:
                    notes.append(f"{link}: got={g} want={w}")
        return len(bad_batches), notes


def _norm(v):
    """pandas surfaces a null boolean as None or NaN; compare as None."""
    if v is None:
        return None
    try:
        if v != v:  # NaN
            return None
    except TypeError:
        pass
    if hasattr(v, "item"):
        return v.item()
    return v
