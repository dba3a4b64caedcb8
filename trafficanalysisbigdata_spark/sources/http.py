"""HTTP page transport for the paginated DataSource — the live half of the
reference's ingest contract (ref TrafficAnalysis.py:31-53, QuickFetch.py:31-48:
page = GET url with $limit/$offset params, body = JSON list of records).

``fetch_page_http`` is a drop-in :data:`~.paginated.PageFetcher`: point the
DataSource at it with

    spark.read.format("paginated_json")
         .option("fetcher", "trafficanalysisbigdata_spark.sources.http:fetch_page_http")
         .option("retries", "3").option("min_interval_s", "0.5")
         .load(pages_dir)

and each page task GETs its address instead of reading a file. Built on
stdlib ``urllib`` (no extra dependency), with the transport itself injectable
so tests — and sandboxes without network — can fake status codes, headers,
and bodies while exercising the full executor-side path.

HTTP semantics encoded here, all standard:

* 2xx → body parsed as a JSON list of objects (the Socrata shape); an empty
  body or empty list is a valid "API ran dry" page, not an error.
* 429 → :class:`RateLimitedError` carrying the ``Retry-After`` header; the
  retry wrapper (:class:`~.paginated.RetryingFetcher`) honors it by sleeping
  ``max(backoff, retry_after)`` before the next attempt.
* other 4xx/5xx → :class:`HttpStatusError`; retryable by the wrapper (a 500
  is usually transient; a 404 will simply exhaust the budget and surface as
  :class:`~.paginated.FetchError` with the cause chained).
"""

from __future__ import annotations

import json
import urllib.request
from collections.abc import Callable

# transport: url -> (status_code, headers_dict, body_bytes). The seam lets
# tests fake a server; the default is a real stdlib GET.
HttpTransport = Callable[[str], "tuple[int, dict, bytes]"]


# Per-request socket timeout of the real transport.
HTTP_TIMEOUT_S = 30.0


def urllib_transport(url: str) -> tuple[int, dict, bytes]:
    """Real GET via stdlib urllib. Non-2xx raises HTTPError, which we fold
    into the same (status, headers, body) tuple so status handling lives in
    one place (fetch_page_http), not in the transport."""
    req = urllib.request.Request(url, headers={"Accept": "application/json"})
    try:
        with urllib.request.urlopen(req, timeout=HTTP_TIMEOUT_S) as resp:
            return resp.status, dict(resp.headers), resp.read()
    except urllib.error.HTTPError as e:  # 4xx/5xx still carry headers/body
        return e.code, dict(e.headers), e.read()


class HttpStatusError(RuntimeError):
    """Non-2xx response; retryable by RetryingFetcher (budget applies)."""

    def __init__(self, url: str, status: int) -> None:
        super().__init__(f"HTTP {status} fetching {url}")
        self.status = status


class RateLimitedError(HttpStatusError):
    """429 with the server's requested pause. ``retry_after_s`` is the
    attribute RetryingFetcher looks for when scheduling the next attempt."""

    def __init__(self, url: str, retry_after_s: float | None) -> None:
        RuntimeError.__init__(
            self, f"HTTP 429 (rate limited, retry-after={retry_after_s}) fetching {url}"
        )
        self.status = 429
        self.retry_after_s = retry_after_s


def _parse_retry_after(headers: dict) -> float | None:
    raw = next((v for k, v in headers.items() if k.lower() == "retry-after"), None)
    if raw is None:
        return None
    try:
        return max(0.0, float(raw))
    except (TypeError, ValueError):
        return None  # HTTP-date form: let exponential backoff decide


def fetch_page_http(
    url: str, transport: HttpTransport = urllib_transport
) -> list[dict]:
    """One page GET → its records (PageFetcher contract). Raises on non-2xx
    so RetryingFetcher owns the retry/backoff/rate policy."""
    status, headers, body = transport(url)
    if status == 429:
        raise RateLimitedError(url, _parse_retry_after(headers))
    if not 200 <= status < 300:
        raise HttpStatusError(url, status)
    text = body.decode("utf-8") if isinstance(body, bytes) else body
    if not text or not text.strip():
        return []  # empty last page: the API ran dry
    records = json.loads(text)
    if not isinstance(records, list):
        raise ValueError(f"expected a JSON list of records from {url}")
    return records


__all__ = [
    "HttpStatusError",
    "RateLimitedError",
    "fetch_page_http",
    "urllib_transport",
]
