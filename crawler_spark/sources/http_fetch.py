"""The engine's fetch stage: two implementations of one contract (S1).

Every page the engine reads — robots.txt and sitemaps in ``discover``, the
selected files in ``run_epoch`` — goes through one fetcher: a callable from
job rows ``(file_url, user_id, site_url, queued_at[, crawl_delay_s])`` to
:data:`FETCHED_SCHEMA` rows, one per job. :func:`pages_fetcher` is the
deterministic stand-in over a ``pages`` table (no network);
:func:`fetch_pages` is the production HTTP kernel, an Arrow-batched
``mapInPandas`` with the reference fetch semantics
(``code/core/worker.py:103-111`` — ``requests.get(url, timeout=30)``,
status/content-length logged, non-2xx → error). Its scale notes:

* one transport (connection pool) per *task*, created lazily via the
  injectable ``transport_factory`` — no per-row session setup, and tests
  inject a fake transport and need no network;
* the kernel is pure map-side: fetches run where the frontier partition
  lives (host-hash partitioning upstream means a task's URLs share hosts,
  so keep-alive connections are actually reused);
* politeness is enforced at TWO grains: the budget window
  (``operators/politeness.py``) caps URLs per host per epoch *before* this
  operator, and the kernel itself spaces same-host requests by the row's
  ``crawl_delay_s`` (robots Crawl-delay, carried by the epoch's selection)
  so a 60 s epoch with budget 10 cannot burst 10 requests in 2 s. Hosts
  are partition-local (host-hash partitioning upstream), so the
  last-request clock is a tiny per-task dict; the clock and sleeper are
  injectable for deterministic tests.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from urllib.parse import urlsplit

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_TIMEOUT = 30.0  # reference worker.py:106

#: the job columns every fetcher reads (``crawl_delay_s`` is optional)
JOB_COLUMNS = ["file_url", "user_id", "site_url", "queued_at"]

#: output schema: the job columns, the body and an explicit status
FETCHED_SCHEMA = (
    "file_url string, user_id string, site_url string, queued_at timestamp, "
    "html binary, status_code int, fetch_error string"
)

#: transport contract: url -> (status_code:int, body:bytes|None, error:str|None)
Transport = Callable[[str], tuple[int, bytes | None, str | None]]


def requests_transport(timeout: float = DEFAULT_TIMEOUT) -> Transport:
    """Real-network transport over ``requests`` (reference worker.py:106).

    Imported lazily — the sandbox has no network, so this factory is only
    ever called on a deployed cluster.
    """
    import requests  # noqa: PLC0415 - deliberate lazy import

    session = requests.Session()

    def get(url: str) -> tuple[int, bytes | None, str | None]:
        try:
            resp = session.get(url, timeout=timeout)
        except requests.RequestException as e:  # DNS/timeout/conn errors
            return 0, None, f"{type(e).__name__}: {e}"
        if resp.status_code != 200:
            return resp.status_code, None, f"HTTP {resp.status_code}"
        return resp.status_code, resp.content, None

    return get


def make_fetch_kernel(
    transport_factory: Callable[[], Transport],
    min_delay_s: float = 0.0,
    clock: Callable[[], float] | None = None,
    sleep: Callable[[float], None] | None = None,
):
    """``mapInPandas`` kernel factory: frontier job rows → fetched rows.

    Input columns: ``file_url, user_id, site_url, queued_at`` plus an
    optional ``crawl_delay_s`` (robots Crawl-delay per row; absent/null →
    ``min_delay_s``); output is :data:`FETCHED_SCHEMA`. The transport is
    created once per task and reused across every batch the task
    processes. Same-host requests are spaced ≥ the row's delay using a
    per-task last-request clock that survives across batches — the
    within-epoch pacing that the per-epoch budget alone cannot give
    (a budget-10 host would otherwise burst its 10 fetches back to back).
    ``clock``/``sleep`` default to monotonic wall time and are injectable
    so tests assert spacing with a fake clock.
    """
    _clock = clock or time.monotonic
    _sleep = sleep or time.sleep

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        transport: Transport | None = None
        last_by_host: dict[str, float] = {}
        for pdf in batches:
            if transport is None:
                transport = transport_factory()
            delays = pdf["crawl_delay_s"] if "crawl_delay_s" in pdf.columns else None
            status, body, err = [], [], []
            for i, url in enumerate(pdf["file_url"]):
                delay = min_delay_s
                if delays is not None and not pd.isna(delays.iloc[i]):
                    delay = max(float(delays.iloc[i]), min_delay_s)
                host = urlsplit(url).netloc.lower()
                if delay > 0 and host in last_by_host:
                    wait = last_by_host[host] + delay - _clock()
                    if wait > 0:
                        _sleep(wait)
                s, b, e = transport(url)
                last_by_host[host] = _clock()
                status.append(s)
                body.append(b)
                err.append(e)
            out = pdf[JOB_COLUMNS].copy()
            out["html"] = body
            out["status_code"] = pd.array(status, dtype="int32")
            out["fetch_error"] = err
            yield out

    return kernel


def fetch_pages(
    jobs: DataFrame,
    transport_factory: Callable[[], Transport] | None = None,
    min_delay_s: float = 0.0,
    clock: Callable[[], float] | None = None,
    sleep: Callable[[float], None] | None = None,
) -> DataFrame:
    """Fetch the job rows' URLs over HTTP; returns :data:`FETCHED_SCHEMA`.

    Rows with a non-null ``html`` are the ``ok`` set, null-``html`` rows
    carry ``status_code`` + ``fetch_error`` for the metrics/processing_errors
    sinks. If ``jobs`` carries a ``crawl_delay_s`` column the kernel honors
    it as the same-host inter-request spacing.
    """
    factory = transport_factory or requests_transport
    kernel = make_fetch_kernel(factory, min_delay_s, clock, sleep)
    cols = list(JOB_COLUMNS)
    if "crawl_delay_s" in jobs.columns:
        cols.append("crawl_delay_s")
    return jobs.select(*cols).mapInPandas(kernel, schema=FETCHED_SCHEMA)


def pages_fetcher(pages: DataFrame) -> Callable[[DataFrame], DataFrame]:
    """The sandbox fetcher: ``jobs -> FETCHED_SCHEMA`` resolved against the
    ``pages`` table (``url``, ``html``). A url the table has is a 200 with
    its body; a missing url is a 404 marker row with a null body.

    Shaped so page BODIES never shuffle: a plain left join from the jobs
    would sort/exchange the html mass (the outer side of a left join cannot
    be broadcast), so instead the job list broadcasts into an inner join
    that leaves the bodies scan in place, and the 404 markers come from an
    anti join that moves only url strings. Every job list the engine builds
    is a working set, not the corpus — the epoch's politeness-bounded
    selection, one robots.txt per due site, one sitemap per (site, user,
    schema map) — which is what makes the broadcast legitimate. Robots
    Crawl-delay pacing is the HTTP kernel's concern; ``crawl_delay_s`` is
    ignored here.
    """
    bodies = pages.select(F.col("url").alias("file_url"), "html")
    html_t = dict(bodies.dtypes)["html"]

    def fetch(jobs: DataFrame) -> DataFrame:
        jobs = jobs.select(*JOB_COLUMNS)
        ok = bodies.join(F.broadcast(jobs), "file_url").select(
            *JOB_COLUMNS, "html", F.lit(200).alias("status_code"),
            F.lit(None).cast("string").alias("fetch_error"))
        missing = jobs.join(bodies.select("file_url"), "file_url", "left_anti").select(
            *JOB_COLUMNS, F.lit(None).cast(html_t).alias("html"),
            F.lit(404).alias("status_code"),
            F.concat(F.lit("HTTP 404: "), F.col("file_url"),
                     F.lit(" not available in source")).alias("fetch_error"))
        return ok.unionByName(missing)

    return fetch
