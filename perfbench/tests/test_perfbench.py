"""Tests of the benchmark's own machinery (no Spark needed).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import math
import os
import socket
import subprocess
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from perfbench import gen
from perfbench.common import ROOT, Clock, PeakRss, beyond, percentile, summary, tail
from perfbench.loadgen import OpenLoop, Outcome, Request, backlog_grew, schedule
from perfbench.metrics import END_TO_END, NAME_RE, PER_LAYER, WORKLOADS


# ---------------------------------------------------------------- generator
def _batches(seed: int, n: int = 3):
    g = gen.IngestGolden(seed, initial_rows=200, pages_per_batch=6)
    pages = [g.next_batch(i) for i in range(n)]
    g.verify()
    return pages, g.table


def test_generator_is_deterministic_for_a_seed():
    assert _batches(11) == _batches(11)
    assert gen.render_pet_page(11, 42) == gen.render_pet_page(11, 42)


def test_generator_changes_with_the_seed():
    a_pages, a_table = _batches(11)
    b_pages, b_table = _batches(12)
    assert a_pages != b_pages
    assert a_table != b_table
    assert gen.render_pet_page(11, 42) != gen.render_pet_page(12, 42)


def test_curate_tables_are_deterministic_for_a_seed():
    assert gen.documents(11, 300) == gen.documents(11, 300)
    assert gen.events(11, 300) == gen.events(11, 300)
    assert gen.documents(11, 300) != gen.documents(12, 300)
    assert gen.events(11, 300) != gen.events(12, 300)


def test_corpus_holds_near_duplicates():
    docs = gen.documents(5, 1000)
    texts = [d["text"] for d in docs]
    near = sum(1 for t in texts if any(t != u and t.startswith(u + " ") for u in texts))
    assert 20 <= near <= 100  # about NEAR_DUP_SHARE of the corpus
    assert all(d["n_chars"] == len(d["text"]) for d in docs)


def test_seeded_fetcher_fails_and_kills_only_seeded_keys():
    seed = 5
    fails = [k for k in range(1, 400) if gen.pet_kind(seed, k) == "fail"]
    assert fails, "the seed should produce some fetch failures"
    with pytest.raises(ConnectionError):
        gen.SeededFetcher(seed)(gen.pet_link(fails[0]))
    dead = [k for k in range(1, 2000) if gen.is_dead(seed, k, 1) and gen.pet_kind(seed, k) != "fail"]
    assert gen.SeededFetcher(seed, 1)(gen.pet_link(dead[0])) == gen.NOT_FOUND_PAGE
    assert gen.SeededFetcher(seed, 0)(gen.pet_link(dead[0])) != gen.NOT_FOUND_PAGE


def test_golden_skips_known_keys_and_keeps_first_occurrence():
    g = gen.IngestGolden(3, initial_rows=300, pages_per_batch=10)
    before = dict(g.table)
    g.next_batch(0)
    for link, rec in before.items():
        if link in g.table:
            assert g.table[link] is rec  # a known key is never re-fetched
    assert all(gen.valid(r) for r in g.table.values())


# ---------------------------------------------------------------- percentiles
@pytest.mark.parametrize(
    "n, p",
    [(1000, 99.0), (999, 95.0), (200, 95.0), (100, 90.0),
     (40, 75.0), (39, 50.0), (20, 50.0)],
)
def test_tail_is_the_highest_percentile_with_ten_beyond(n, p):
    values = [float(i) for i in range(n)]
    got_p, got_v = tail(values)
    assert got_p == p
    assert beyond(n, got_p) >= 10
    assert sum(1 for v in values if v > got_v) >= 10
    higher = [q for q in (99.9, 99.0, 95.0, 90.0, 75.0) if q > got_p]
    assert all(beyond(n, q) < 10 for q in higher)


def test_tail_needs_twenty_samples():
    assert tail([1.0] * 19) is None
    s = summary([3.0, 1.0, 2.0])
    assert s["tail"] is None and s["max"] == 3.0 and s["p50"] == 2.0


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert percentile(values, 99) == 99
    assert percentile(values, 50) == 50


# ---------------------------------------------------------------- open loop
class _Slow(BaseHTTPRequestHandler):
    delay_s = 0.05

    def do_GET(self):  # noqa: N802
        time.sleep(self.delay_s)
        body = b"ok"
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):
        pass


class _QuietServer(ThreadingHTTPServer):
    def handle_error(self, request, client_address):
        pass  # the timed-out client has gone; its broken pipe is expected


@pytest.fixture
def slow_server():
    httpd = _QuietServer(("127.0.0.1", 0), _Slow)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield httpd.server_address[1]
    httpd.shutdown()
    httpd.server_close()
    t.join(timeout=5)
    assert not t.is_alive()


def test_schedule_is_fixed_rate():
    assert schedule(10.0, 4.0, 3) == [10.0, 10.25, 10.5]


def test_open_loop_times_from_the_due_time(slow_server):
    # one connection, three requests all due now: the third waits for two
    # 50 ms services, and that wait is part of its latency
    loop = OpenLoop("127.0.0.1", slow_server, workers=1, timeout_s=5)
    due = time.perf_counter()
    outs = loop.run([Request(due, "/", "pets") for _ in range(3)])
    assert all(o.ok and o.status == 200 for o in outs)
    lat = [o.latency_s for o in outs]
    assert lat[2] >= 0.10
    assert outs[2].late_s >= 0.09  # sent late, and the latency counts it
    assert lat[2] == pytest.approx(outs[2].done - due)


def test_late_start_counts_against_latency(slow_server):
    loop = OpenLoop("127.0.0.1", slow_server, workers=1, timeout_s=5)
    out = loop.send(Request(time.perf_counter() - 0.3, "/", "pets"))
    assert out.ok and out.latency_s >= 0.3 + 0.05


def _closed_port() -> int:
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


def test_refused_request_counts_as_failed():
    loop = OpenLoop("127.0.0.1", _closed_port(), workers=1, timeout_s=1)
    out = loop.send(Request(time.perf_counter(), "/", "pets"))
    assert not out.ok and out.error
    assert math.isinf(out.latency_s)  # misses any latency limit


def test_timed_out_request_counts_as_failed(slow_server):
    _Slow.delay_s = 0.5
    try:
        loop = OpenLoop("127.0.0.1", slow_server, workers=1, timeout_s=0.1)
        out = loop.send(Request(time.perf_counter(), "/", "pets"))
    finally:
        _Slow.delay_s = 0.05
    assert not out.ok and "timed out" in out.error.lower()
    assert math.isinf(out.latency_s)
    assert math.isinf(summary([1.0] * 30 + [out.latency_s] * 11)["tail"])


def test_backlog_detected_when_the_queue_does_not_drain():
    def outcome(late):
        return Outcome(Request(0.0, "/", "pets"), sent=late, first_byte=late, done=late, status=200)

    drained = [outcome(0.001) for _ in range(50)]
    growing = [outcome(0.001 * i) for i in range(50)]
    assert not backlog_grew(drained, limit_s=0.1)
    assert backlog_grew(growing, limit_s=0.1)


# ---------------------------------------------------------------- processes
_ORPHAN = """
import subprocess
from perfbench.common import become_subreaper, reap_descendants, tree
import os
become_subreaper()
subprocess.run(["sh", "-c", "sleep 60 & sleep 60 &"], check=True)
before = len(tree(os.getpid())) - 1
signalled = reap_descendants(grace_s=0.2)
print(before, len(signalled), len(tree(os.getpid())) - 1)
"""


def test_reaper_stops_orphaned_grandchildren():
    out = subprocess.run([sys.executable, "-c", _ORPHAN], cwd=ROOT, capture_output=True,
                         text=True, timeout=60, check=True)
    assert out.stdout.split() == ["2", "2", "0"]


def test_peak_rss_sampler_reports_and_ends():
    with PeakRss(interval_s=0.01) as rss:
        time.sleep(0.2)
    assert rss.peak > 0
    assert rss._proc.poll() is not None  # noqa: SLF001


def test_clock_counts_the_cpu_of_children():
    clock = Clock()
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3 * 10**6))"], check=True)
    wall, cpu = clock.lap()
    assert cpu > 0.05
    assert wall > 0


def test_serve_mix_has_exact_shares_in_a_seeded_order():
    import random

    from perfbench.w_serve import MIX, Serve

    def kinds(seed):
        serve = object.__new__(Serve)
        serve.rng = random.Random(seed)
        return serve._kinds(80)  # noqa: SLF001

    a, b = kinds(1), kinds(2)
    for kind, share in MIX[1:]:
        assert a.count(kind) == b.count(kind) == round(share * 80)
    assert a != b
    assert a == kinds(1)


# ---------------------------------------------------------------- names
def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_are_well_formed():
    for name in [*END_TO_END, *PER_LAYER, *WORKLOADS]:
        assert NAME_RE.match(name), name


def test_metric_names_match_benchmark_json():
    spec = _benchmark_json()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert "setup_s" in END_TO_END
