"""S1/S2 — per-row document fetch as an Arrow-batched pandas UDF.

The reference fetches one HTML document per pet/search page through a
remote scraping server (static: ``pet_scraper.py:60-93``; JS-rendered with
wait knobs: ``link_scraper.py:28-63``). In Spark the fetch is executor-side
work inside a pandas UDF, so a million URLs fan out across the cluster
while the plan stays declarative — and the O1 plan shape (anti-join BEFORE
the fetch, ``server.py:200-203``) keeps the expensive UDF off already-known
keys. That holds because the fetch UDF is declared nondeterministic (a live
fetch is not a pure function of its URL): Catalyst then neither pushes
filters on the fetched document below the fetch, where they would fetch
each row a second time, nor infers copies of them across the anti join,
where they would fetch the committed rows the anti join exists to skip.

Determinism: live HTTP is out of correctness scope (SURVEY.md §7.3.6), so
the default fetcher synthesizes a page from the URL alone — byte-stable,
which makes the whole ingest pipeline (fetch → xpath-project → clean →
validate → merge) oracle-checkable. The real-HTTP fetcher has the same
signature and is selected by injection; the plan does not change.

Reference behaviors carried over:
- T7 error isolation (``server.py:214-216``): a failed fetch yields null,
  never a task failure; downstream filters drop the row.
- O6 politeness pacing (``server.py:212``): optional per-executor-thread
  min-interval between requests inside the UDF (a cluster-wide token
  bucket would need an external limiter; per-thread × max-concurrency
  bounds the aggregate rate the same way the reference's single thread
  did).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def fixture_fetch(url: str) -> str:
    """Deterministic stand-in fetcher: derives a pet page from the numeric
    key in the URL. Field values are simple functions of the key so an
    oracle can restate the expected extraction output directly."""
    key = int("".join(ch for ch in url if ch.isdigit()) or "0")
    age = ["Adult", "Young", "Senior"][key % 3]
    gender = ["Male", "Female"][key % 2]
    # Name carries the 'About ' prefix + trailing footnote the reference's
    # clean stack strips (pet_scraper.py:293-332).
    return (
        f"<page><pet><name>About Pet {key}*</name>"
        f"<age>{age}</age><gender>{gender}</gender></pet></page>"
    )


def http_fetch(url: str, server: str, key: str, timeout: int = 60,
               wait_timeout: int | None = None, additional_wait: int | None = None) -> str:
    """Real fetcher shape (S1, pet_scraper.py:60-93; S2 when the wait knobs
    are set, link_scraper.py:28-63): GET through a scraping server with an
    auth key; non-2xx raises (urllib's HTTPError — the raise_for_status
    analog), which the fetch UDF isolates to a null row (T7). Stdlib
    ``urllib`` rather than ``requests`` so the seam runs — and is tested —
    in minimal containers."""
    from urllib.parse import urlencode  # noqa: PLC0415
    from urllib.request import urlopen  # noqa: PLC0415

    params: dict[str, str | int] = {"url": url, "key": key}
    endpoint = "/scrape"
    if wait_timeout is not None:
        endpoint = "/scrape-js"
        params.update({"wait_timeout": wait_timeout, "additional_wait": additional_wait or 0})
    with urlopen(f"{server}{endpoint}?{urlencode(params)}", timeout=timeout) as resp:
        return resp.read().decode("utf-8")


def make_fetch_udf(
    fetcher: Callable[[str], str] = fixture_fetch,
    min_interval_s: float = 0.0,
):
    """Build the fetch pandas UDF: url → document (null on failure).

    Arrow-batched (one pandas Series per batch, not per-row Python calls);
    the closure is self-contained so executors unpickle it by value.
    Declared nondeterministic, so the optimizer evaluates it exactly where
    the plan places it (module docstring)."""

    def fetch_series(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import time as _time

        last = [0.0]

        def one(url: str) -> str | None:
            if url is None:
                return None
            if min_interval_s > 0:
                now = _time.monotonic()
                wait = last[0] + min_interval_s - now
                if wait > 0:
                    _time.sleep(wait)
                last[0] = _time.monotonic()
            try:
                return fetcher(url)
            except Exception:
                return None  # T7: isolate the row, never fail the task

        for s in batches:
            yield s.map(one)

    return F.pandas_udf(fetch_series, T.StringType()).asNondeterministic()


def fetch_documents(url_col: Column, fetcher: Callable[[str], str] = fixture_fetch,
                    min_interval_s: float = 0.0) -> Column:
    """Column-level entry: ``df.withColumn("html", fetch_documents(col("url")))``."""
    return make_fetch_udf(fetcher, min_interval_s)(url_col)
