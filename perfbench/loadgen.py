"""Open-loop HTTP load from one process.

Requests are due on a fixed schedule; a small pool of worker threads (one
connection each) sends them in due order. Latency counts from the due
time, so when every worker is busy the wait shows in the latency of the
requests behind it. A refused, failed or timed-out request has no
latency: it counts as failed and as missing any latency limit.
"""

from __future__ import annotations

import hashlib
import http.client
import math
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Request:
    due: float  # perf_counter seconds
    path: str
    kind: str  # pets | old | csv | badkey
    version: int | None = None
    headers: dict = field(default_factory=dict)


@dataclass
class Outcome:
    req: Request
    sent: float = math.nan
    first_byte: float = math.nan
    done: float = math.nan
    status: int | None = None
    nbytes: int = 0
    digest: str = ""
    error: str = ""

    @property
    def ok(self) -> bool:
        return not self.error and self.status is not None

    @property
    def latency_s(self) -> float:
        """From the due time to the last byte; inf when the request failed."""
        return self.done - self.req.due if self.ok else math.inf

    @property
    def late_s(self) -> float:
        return self.sent - self.req.due


def schedule(t0: float, rate: float, n: int) -> list[float]:
    """Due times of ``n`` requests at a fixed ``rate`` from ``t0``."""
    return [t0 + k / rate for k in range(n)]


class OpenLoop:
    """Sends requests at their due times through ``workers`` connections.
    Response bodies are kept once per distinct digest for the checks."""

    def __init__(self, host: str, port: int, workers: int, timeout_s: float):
        self.host, self.port = host, port
        self.workers = workers
        self.timeout_s = timeout_s
        self.bodies: dict[str, bytes] = {}
        self._lock = threading.Lock()

    def send(self, req: Request) -> Outcome:
        out = Outcome(req)
        now = time.perf_counter()
        if req.due > now:
            time.sleep(req.due - now)
        out.sent = time.perf_counter()
        conn = http.client.HTTPConnection(self.host, self.port, timeout=self.timeout_s)
        try:
            conn.request("GET", req.path, headers=req.headers)
            resp = conn.getresponse()
            out.first_byte = time.perf_counter()
            body = resp.read()
            out.done = time.perf_counter()
            out.status = resp.status
        except (OSError, http.client.HTTPException) as exc:
            out.error = f"{type(exc).__name__}: {exc}"
            return out
        finally:
            conn.close()
        out.nbytes = len(body)
        out.digest = hashlib.blake2b(body, digest_size=16).hexdigest()
        with self._lock:
            self.bodies.setdefault(out.digest, body)
        return out

    def run(self, requests: list[Request]) -> list[Outcome]:
        """Send every request (sorted by due time); returns outcomes in the
        same order."""
        outcomes: list[Outcome | None] = [None] * len(requests)
        cursor = iter(range(len(requests)))
        take = threading.Lock()

        def worker() -> None:
            while True:
                with take:
                    i = next(cursor, None)
                if i is None:
                    return
                outcomes[i] = self.send(requests[i])

        threads = [threading.Thread(target=worker, daemon=True) for _ in range(self.workers)]
        for t in threads:
            t.start()
        deadline = (requests[-1].due if requests else time.perf_counter()) + 10 * self.timeout_s
        for t in threads:
            t.join(timeout=max(0.0, deadline - time.perf_counter()))
        return [o if o is not None else Outcome(r, error="not sent") for o, r in zip(outcomes, requests)]


def backlog_grew(outcomes: list[Outcome], limit_s: float) -> bool:
    """True when the last tenth of a rung was sent later than a quarter of
    the latency limit after its due time (the queue did not drain)."""
    tail = outcomes[-max(1, len(outcomes) // 10):]
    lates = sorted(o.late_s for o in tail if o.ok)
    return not lates or lates[len(lates) // 2] > limit_s / 4
