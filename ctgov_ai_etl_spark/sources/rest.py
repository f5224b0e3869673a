"""Paginated REST study source as a Spark 4 Python DataSource
(reference R2/R3/R4; /root/reference/etl.py:86-171).

The reference fetches pages sequentially on the driver — GET with a
60 s timeout, ``nextPageToken`` loop, hard cap of 100 pages
(etl.py:115-157) — and pushes its conjunctive Essie filter to the
server as ``filter.advanced`` (etl.py:97-105).  Here the same source
is a ``DataSource`` so it participates in a Spark plan:

- **partition planning = pagination.**  When the backend supports
  numbered pages (``paging=indexed``), the pages are cut into
  ``min(max_pages, parallelism)`` contiguous page ranges, one
  ``InputPartition`` each, and executors fetch them in parallel; a
  range's task pays the source and downstream Python-worker set-up
  once for all its pages, and partition order stays page order.
  ``parallelism`` is a reader option (the pipeline passes the
  session's ``defaultParallelism``); without it each page is its own
  range.  The public
  CTGov v2 API only hands out opaque ``nextPageToken``s
  (etl.py:146-152), which serializes page *discovery*; in that mode
  the source walks tokens in one partition (documented limitation,
  identical to the reference's behavior) — at scale you mirror the
  API to storage once and scan parquet.
- **filter pushdown.**  ``pushFilters`` translates supported Catalyst
  filters on the flat columns into Essie conjuncts (AND-joined like
  the reference's config list) and keeps the rest for Spark to
  evaluate — the DSv2 contract, with the Essie grammar as the remote
  dialect (SURVEY.md §2.2).
- **fault semantics.**  Any page error aborts the read (the reference
  aborts the whole extract on any non-200, etl.py:124-127,163-171);
  timeout/page-cap are options with the reference's defaults.

- **typed pages.**  The source has one column, ``study``, of type
  ``schemas.RAW_STUDY``, and each fetched page becomes one Arrow
  record batch built straight from the page's study dicts, which
  Spark takes as it is: no study is serialized back to JSON text,
  converted row by row or re-parsed in the JVM.  Keys outside
  ``RAW_STUDY`` are dropped and absent ones are NULL, the reference's
  defaulting ``.get()`` chains (etl.py:188-215); a value whose JSON
  type does not fit its leaf (say a number where a string is due)
  aborts the read with an error naming the page, like any other page
  error.

Transports are pluggable via a ``transport_factory`` option holding a
``module:function`` path (importable in the Python workers); tests use
the deterministic fixture transport in ``fixtures.mock_ctgov_transport``
so no network is touched in CI.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from typing import Any

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNull,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    StringContains,
)
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructField, StructType

from ctgov_ai_etl_spark.config import resolve_factory
from ctgov_ai_etl_spark.schemas import RAW_STUDY

DEFAULT_PAGE_SIZE = 1000  # reference default, etl.py:103
DEFAULT_MAX_PAGES = 100  # reference hard cap, etl.py:156-157
DEFAULT_TIMEOUT_S = 60.0  # reference timeout, etl.py:121
# Largest In-filter that still pushes down as an Essie OR-group; a
# bigger set would expand into a query-string URL past typical server
# request-line limits (~8 KB), so it stays a client-side residual.
MAX_IN_PUSHDOWN = 50

SCHEMA = StructType([StructField("study", RAW_STUDY)])
ARROW_STUDY = to_arrow_type(RAW_STUDY)
_ARROW_SCHEMA = pa.schema([pa.field("study", ARROW_STUDY)])

# A transport takes (params, page_index_or_token) and returns the page
# dict {"studies": [...], "nextPageToken": str|None}.
Transport = Callable[[dict[str, Any], Any], dict[str, Any]]


def _http_transport(url: str, timeout_s: float) -> Transport:
    def fetch(params: dict[str, Any], token: Any) -> dict[str, Any]:
        import requests  # gated: only the live path needs it

        q = dict(params)
        if token:
            q["pageToken"] = token
        resp = requests.get(url, params=q, timeout=timeout_s)
        resp.raise_for_status()
        return resp.json()

    return fetch


class TransientPageError(Exception):
    """A page fetch failure worth retrying (transport-defined: custom
    transports raise this to opt a failure into the retry policy)."""


def _is_transient(exc: Exception) -> bool:
    """Retryable = timeouts, connection drops, HTTP 5xx, or an explicit
    :class:`TransientPageError`.  4xx/parse errors are NOT retried —
    they abort the read exactly like the reference (etl.py:124-127,
    163-171): retrying a request the server rejected is wasted quota."""
    if isinstance(exc, TransientPageError):
        return True
    try:
        import requests
    except ImportError:  # fixture transports without the live dep
        return False
    if isinstance(exc, (requests.exceptions.Timeout, requests.exceptions.ConnectionError)):
        return True
    if isinstance(exc, requests.exceptions.HTTPError):
        resp = exc.response
        return resp is not None and resp.status_code >= 500
    return False


def with_retries(
    transport: Transport, max_retries: int, backoff_s: float = 0.5
) -> Transport:
    """Wrap a transport with jittered exponential backoff on TRANSIENT
    failures (see :func:`_is_transient`).  ``max_retries=0`` (the
    default everywhere) returns the transport untouched — the
    reference's abort-on-any-error semantics are preserved unless the
    caller opts in.  At 100 pages a single transient 503 otherwise
    kills the whole read; sleeps are ``backoff_s · 2^attempt`` with
    ±50% jitter so a fleet of executors retrying the same flapping
    endpoint doesn't stampede it in lockstep."""
    if max_retries <= 0:
        return transport

    def fetch(params: dict[str, Any], token: Any) -> dict[str, Any]:
        import random as _random
        import time as _time

        attempt = 0
        while True:
            try:
                return transport(params, token)
            except Exception as exc:
                if attempt >= max_retries or not _is_transient(exc):
                    raise
                _time.sleep(backoff_s * (2**attempt) * (0.5 + _random.random()))
                attempt += 1

    return fetch


# --------------------------------------------------- filter translation

def filters_to_essie(filters: list[Filter]) -> tuple[list[str], list[Filter]]:
    """Translate Catalyst filters to Essie conjuncts; return
    (conjuncts, unsupported) — unsupported stay with Spark (the DSv2
    pushdown contract). Mirrors the grammar the reference ships
    (config.example.yaml:4-12)."""
    conjuncts: list[str] = []
    unsupported: list[Filter] = []
    for f in filters:
        col = ".".join(f.attribute) if hasattr(f, "attribute") else None
        area = col.split(".")[-1] if col else None
        if isinstance(f, EqualTo):
            conjuncts.append(f"AREA[{area}]{f.value}")
        elif isinstance(f, GreaterThanOrEqual):
            conjuncts.append(f"AREA[{area}]RANGE[{f.value},MAX]")
        elif isinstance(f, LessThanOrEqual):
            conjuncts.append(f"AREA[{area}]RANGE[MIN,{f.value}]")
        elif isinstance(f, IsNull):
            conjuncts.append(f"AREA[{area}]MISSING")
        elif isinstance(f, StringContains):
            conjuncts.append(f"SEARCH[{area}]{f.value}")
        elif isinstance(f, In) and len(f.value) <= MAX_IN_PUSHDOWN:
            # isin → Essie OR-group: the grammar the reference's own
            # config exercises ((AREA[Sex]FEMALE OR AREA[Sex]ALL),
            # config.example.yaml:8,12).  This is the R9 tuning-set
            # narrowing done SERVER-side — without it an isin over
            # nct_ids fetches the whole corpus over HTTP and filters
            # client-side.  Capped at MAX_IN_PUSHDOWN values: a 10k-id
            # isin would expand into an unbounded query-string URL
            # (servers reject multi-KB GET lines); beyond the cap the
            # filter stays client-side via ``unsupported`` and Spark
            # re-applies it — correct either way, per the DSv2
            # residual contract.
            disj = " OR ".join(f"AREA[{area}]{v}" for v in f.value)
            conjuncts.append(f"({disj})")
        else:
            unsupported.append(f)
    return conjuncts, unsupported


def _page_reader(options: dict[str, str]) -> tuple[Transport, dict[str, Any], int]:
    """Reader options → (transport under the retry policy, page params,
    page cap): the one option parser of the batch and stream readers.

    The params start from any config-provided ``filter_advanced``
    conjuncts, exactly like the reference AND-joins its YAML list
    (etl.py:100).  ``fields`` is projection pushdown (SURVEY.md §4):
    the CTGov v2 API returns only the requested dotted study paths —
    the server-side analogue of parquet column pruning.  Catalyst can't
    derive it (the source's schema is one opaque RAW_STUDY column), so
    it's an explicit option; operators/flatten.py:flatten_fields()
    yields the ~10 leaves the reference pipeline needs instead of the
    full study document (the reference always fetches whole studies,
    etl.py:115-157)."""
    factory = options.get("transport_factory")
    if factory:
        args = json.loads(options.get("transport_args", "[]"))
        transport = resolve_factory(factory)(*args)
    else:
        timeout_s = float(options.get("timeout_s", DEFAULT_TIMEOUT_S))
        transport = _http_transport(options.get("url", ""), timeout_s)
    transport = with_retries(
        transport,
        int(options.get("max_retries", 0)),
        float(options.get("backoff_s", 0.5)),
    )
    params: dict[str, Any] = {"pageSize": int(options.get("page_size", DEFAULT_PAGE_SIZE))}
    if options.get("filter_advanced"):
        params["filter.advanced"] = options["filter_advanced"]
    if options.get("fields"):
        params["fields"] = options["fields"]
    return transport, params, int(options.get("max_pages", DEFAULT_MAX_PAGES))


def _token_walk(
    transport: Transport, params: dict[str, Any], token: Any, n_pages: int
) -> Iterator[tuple[dict[str, Any], Any]]:
    """Yield ``(page, next_token)`` for up to ``n_pages`` pages from
    ``token``, stopping after a page without a ``nextPageToken``
    (the reference's loop and page cap, etl.py:147-157)."""
    for _ in range(n_pages):
        page = transport(params, token)
        token = page.get("nextPageToken")
        yield page, token
        if not token:
            return


def _page_batch(page: dict[str, Any], where: str) -> Iterator[pa.RecordBatch]:
    """The page's studies as one ``study`` record batch (none for an
    empty page); ``where`` names the page in the error a study that
    does not fit ``RAW_STUDY`` raises."""
    studies = page.get("studies", [])
    if not studies:
        return
    try:
        column = pa.array(studies, type=ARROW_STUDY)
    except (pa.ArrowInvalid, pa.ArrowTypeError) as exc:
        raise ValueError(f"ctgov_rest {where}: a study does not fit RAW_STUDY: {exc}") from exc
    yield pa.RecordBatch.from_arrays([column], schema=_ARROW_SCHEMA)


def _token_page(n: int, token: Any) -> str:
    return f"page {n} (token {token!r})"


@dataclass
class PageRange(InputPartition):
    """Pages ``start`` .. ``stop - 1`` (indexed paging), read in order."""

    start: int = 0
    stop: int = 1


def page_ranges(n_pages: int, parallelism: int) -> list[PageRange]:
    """``min(n_pages, parallelism)`` contiguous ranges covering pages
    0 .. n_pages - 1 in order, their sizes differing by at most one."""
    n_parts = max(min(n_pages, parallelism), 1)
    size, extra = divmod(n_pages, n_parts)
    ranges, start = [], 0
    for i in range(n_parts):
        stop = start + size + (i < extra)
        ranges.append(PageRange(start, stop))
        start = stop
    return ranges


class RestStudiesReader(DataSourceReader):
    def __init__(self, options: dict[str, str]):
        self.transport, self.params, self.max_pages = _page_reader(options)
        self.indexed = options.get("paging", "token") == "indexed"
        self.parallelism = int(options.get("parallelism", self.max_pages))
        self.pushed: list[str] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        pushed, unsupported = filters_to_essie(list(filters))
        self.pushed.extend(pushed)
        return iter(unsupported)

    def _params(self) -> dict[str, Any]:
        if not self.pushed:
            return self.params
        conjuncts = [self.params.get("filter.advanced"), *self.pushed]
        return {**self.params, "filter.advanced": " AND ".join(c for c in conjuncts if c)}

    def partitions(self) -> list[InputPartition]:
        if self.indexed:
            # page count is discoverable → contiguous page ranges,
            # fetched in parallel by executors
            return page_ranges(self.max_pages, self.parallelism)
        return [PageRange(0, self.max_pages)]  # opaque-token mode: sequential walk

    def read(self, partition: PageRange) -> Iterator[pa.RecordBatch]:
        params = self._params()
        if self.indexed:
            for n in range(partition.start, partition.stop):
                yield from _page_batch(self.transport(params, n), f"page {n}")
            return
        token = None
        for n, (page, nxt) in enumerate(_token_walk(self.transport, params, None, self.max_pages)):
            yield from _page_batch(page, _token_page(n, token))
            token = nxt


class RestStudiesStreamReader(SimpleDataSourceStreamReader):
    """The reference's token-pagination loop (etl.py:115-157)
    INCREMENTALIZED: each micro-batch pulls up to ``pages_per_batch``
    pages from the last committed offset, so ingestion is resumable
    (offsets persist in the checkpoint), rate-bounded per trigger, and
    composable with every downstream streaming operator — versus the
    reference's one-shot eager walk.

    Offsets are the page cursor itself: ``{"token": str|None, "page":
    int, "done": bool}``.  ``readBetweenOffsets`` replays a committed
    range by re-walking tokens from the range's start — exactly-once
    delivery for backends whose token walk is stable (the fixture
    transport is; a live API that recycles tokens gets at-least-once,
    the same guarantee the reference's restart-from-scratch loop has).
    When the walk exhausts (no next token / page cap), ``read``
    returns the same offset forever — an ``availableNow`` trigger
    terminates, a continuous trigger idles.
    """

    def __init__(self, options: dict[str, str]):
        self.transport, self.params, self.max_pages = _page_reader(options)
        self.pages_per_batch = int(options.get("pages_per_batch", 1))

    def initialOffset(self) -> dict:
        return {"token": None, "page": 0, "done": False}

    def _walk(self, start: dict, n_pages: int) -> tuple[list[pa.RecordBatch], dict]:
        batches: list[pa.RecordBatch] = []
        token, page, done = start.get("token"), start["page"], start.get("done", False)
        if not done:
            # pages left under the cap; asking past it marks the walk done
            budget = max(min(n_pages, self.max_pages - page), 0)
            for pg, nxt in _token_walk(self.transport, self.params, token, budget):
                batches.extend(_page_batch(pg, _token_page(page, token)))
                token, page, done = nxt, page + 1, not nxt
            done = done or n_pages > budget
        return batches, {"token": token, "page": page, "done": done}

    def read(self, start: dict) -> tuple[Iterator[pa.RecordBatch], dict]:
        batches, end = self._walk(start, self.pages_per_batch)
        return iter(batches), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[pa.RecordBatch]:
        batches, _ = self._walk(start, max(end["page"] - start["page"], 0))
        return iter(batches)


class RestStudiesDataSource(DataSource):
    """``spark.read.format("ctgov_rest")`` — paginated study source;
    ``spark.readStream.format("ctgov_rest")`` — the same pagination as
    a micro-batch stream."""

    @classmethod
    def name(cls) -> str:
        return "ctgov_rest"

    def schema(self) -> StructType:
        return SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return RestStudiesReader(self.options)

    def simpleStreamReader(self, schema: StructType) -> RestStudiesStreamReader:
        return RestStudiesStreamReader(self.options)


_REGISTERED_SESSIONS: set[int] = set()


def register(spark) -> None:
    """Make ``ctgov_rest`` readable in ``spark``; idempotent per session
    (re-registering replaces the source and logs a warning each time)."""
    from ctgov_ai_etl_spark.session import ship_package
    from ctgov_ai_etl_spark.tables import ensure_session_confs

    ensure_session_confs(spark)  # enables Python-source filter pushdown
    ship_package(spark)
    key = id(spark)
    if key not in _REGISTERED_SESSIONS:
        spark.dataSource.register(RestStudiesDataSource)
        _REGISTERED_SESSIONS.add(key)
