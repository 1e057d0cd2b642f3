"""Live-backend graft for the S3/S4 SQL extract: LIMIT/OFFSET over HTTP.

``sources/sql.py`` holds the JDBC seam (``JDBCConf``) that maps the
reference's serial LIMIT/OFFSET feature pagination
(``ExtractFeatures``, ``terra.py:177-211``: count the queryset, then
walk it in ``batch_size=1000`` windows, ``terra.py:194``) onto Spark's
partitioned JDBC scan. No live database exists in this environment, so
this module proves the SAME pagination contract end-to-end against a
real network service: a paginated rows-over-HTTP backend (tests and the
registered query run it against an in-process stdlib ``http.server``).
It is also the worked live graft of the scroll reader's ``fetch_page``
seam (``scroll.py``): one GET per partition on the executors, with the
pushed id bounds forwarded server-side as query parameters.

The mapping, Spark-first:

- the reference's driver-side ``qs.count()`` (``terra.py:186``) is the
  one planning-time probe (``GET /count``);
- each LIMIT/OFFSET window becomes an ``InputPartition`` — the serial
  page walk becomes ``ceil(count / batch_size)`` parallel executor
  fetches, exactly how ``JDBCConf`` turns the same windows into
  partitionColumn predicates;
- range/equality predicates on the configured id column are consumed
  by ``pushFilters`` and forwarded to BOTH ``/count`` and ``/rows`` as
  query parameters (bounds must reach the count, or the offsets would
  enumerate a different queryset than the pages). SERVICE CONTRACT:
  ``/count`` and ``/rows`` must apply the SAME subset of the bound
  params — both (the stand-in below) or neither (a bound-ignoring
  service: the page walk then spans the unbounded queryset and the
  inherited client-side ``_keep`` re-check restores the bound, pinned
  by test_sql_http_bound_ignoring_service_stays_correct). The one
  WRONG shape is bounding ``/count`` but not ``/rows``: the bounded
  count plans too few windows over an unbounded row order, silently
  dropping the tail. No re-check can detect missing pages client-side
  — it is the LIMIT/OFFSET analogue of paginating without a stable
  ORDER BY, and must be fixed in the service.

STABILITY CONTRACT (same as the reference's, which orders by pk):
LIMIT/OFFSET pagination is only exactly-once if the service serves a
total order that is stable across requests. The stand-in sorts by the
id column; a real deployment must ``ORDER BY pk``.

Protocol (any JSONL-over-HTTP service):

- ``GET {base_url}/count?[id_gte=..&..]`` -> ``{"count": N}``;
- ``GET {base_url}/rows?limit=L&offset=O&[id_gte=..]`` -> one JSONL
  document per row of the ordered, bounded queryset window.

Usage::

    spark.dataSource.register(SqlHttpDataSource)
    df = (spark.read.format("tbns_sql_http")
          .schema("s_suppkey BIGINT, s_name STRING")
          .option("base_url", url).option("id_col", "s_suppkey")
          .option("batch_size", 64).load())
"""

from __future__ import annotations

import json
import math
import os
import threading
from collections.abc import Iterator, Sequence
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlencode, urlparse
from urllib.request import urlopen

from pyspark.sql.datasource import DataSource, DataSourceStreamReader
from pyspark.sql.types import StructType

from terra_bonobo_nodes_spark.sources.scroll import (
    PagePartition,
    ScrollReader,
    _arrow_batches,
)

_OP_PARAM = {">": "id_gt", ">=": "id_gte", "<": "id_lt", "<=": "id_lte", "==": "id_eq"}


class SqlHttpDataSource(DataSource):
    """``format("tbns_sql_http")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "tbns_sql_http"

    def schema(self) -> str:
        raise ValueError(
            "tbns_sql_http requires an explicit schema: "
            'spark.read.format("tbns_sql_http").schema("id BIGINT, ...")'
        )

    def reader(self, schema: StructType) -> "SqlHttpReader":
        return SqlHttpReader(schema, self.options)

    def streamReader(self, schema: StructType) -> "SqlHttpStreamReader":
        return SqlHttpStreamReader(schema, self.options)


def _service_options(options: dict) -> tuple[str, int, float]:
    """``(base_url, batch_size, timeout)`` — the service options both
    readers take. ``batch_size`` is the reference's ExtractFeatures
    window size (``terra.py:194``)."""
    if "base_url" not in options:
        raise ValueError("tbns_sql_http: 'base_url' option is required")
    batch_size = int(options.get("batch_size", 1000))
    if batch_size <= 0:
        raise ValueError("tbns_sql_http: batch_size must be positive")
    return (
        options["base_url"].rstrip("/"),
        batch_size,
        float(options.get("timeout", 30)),
    )


def _get_count(url: str, timeout: float) -> int:
    with urlopen(url, timeout=timeout) as resp:
        return int(json.load(resp)["count"])


def _get_jsonl(url: str, timeout: float) -> list[dict]:
    """One GET returning one JSON document per line. urllib holds no
    cross-task state, so an executor needs nothing from the driver but
    the URL (per-partition client lifecycle, the reference's
    fresh-cursor-per-chunk, ``terra.py:177-211``)."""
    with urlopen(url, timeout=timeout) as resp:
        return [
            json.loads(line)
            for line in resp.read().decode("utf-8").splitlines()
            if line.strip()
        ]


class SqlHttpReader(ScrollReader):
    """ScrollReader with its planning seam re-shaped from page-listing
    to COUNT + LIMIT/OFFSET windows. Pushdown consumption, the
    empty-queryset sentinel, Arrow batching and the client-side bound
    re-check are inherited unchanged."""

    def __init__(self, schema: StructType, options: dict) -> None:
        super().__init__(schema, options)
        self.base_url, self.batch_size, self.timeout = _service_options(options)

    def partitions(self) -> Sequence[PagePartition]:
        """One partition per LIMIT/OFFSET window. The COUNT probe is
        the single driver-side round-trip (``terra.py:186``); the
        bounds travel with it so count and pages enumerate the same
        queryset."""
        q = ""
        if self.bounds:
            # the service may apply them (bandwidth) or ignore them
            # (correctness is kept by the inherited client-side _keep)
            q = "&" + urlencode([(_OP_PARAM[op], repr(v)) for op, v in self.bounds])
        probe = f"{self.base_url}/count?{q.lstrip('&')}" if q else f"{self.base_url}/count"
        total = _get_count(probe, self.timeout)
        if total == 0:
            return [PagePartition(0, "")]  # empty queryset: 0 rows
        n_pages = math.ceil(total / self.batch_size)
        # the final window's limit is capped at total - offset so rows
        # appended between the /count probe and the last page fetch
        # cannot leak past the probed count — the batch read snapshots
        # the queryset (the streaming reader tails it instead)
        return [
            PagePartition(
                i,
                f"{self.base_url}/rows?"
                f"limit={min(self.batch_size, total - i * self.batch_size)}"
                f"&offset={i * self.batch_size}{q}",
            )
            for i in range(n_pages)
        ]

    def fetch_page(self, partition: PagePartition) -> list[dict]:
        """One GET per window, ON the executor owning the partition."""
        return _get_jsonl(partition.path, self.timeout)


class SqlHttpStreamReader(DataSourceStreamReader):
    """Incremental extract: the LIMIT/OFFSET cursor as a streaming
    offset. The batch reader snapshots the queryset; this form tails it
    — each micro-batch reads exactly the rows appended since the last
    committed offset, in ``batch_size`` windows fetched on executors.
    Exactly-once comes from Spark's offset log (a replayed batch
    re-reads the same [start, end) row range).

    CONTRACT (the changefeed analogue of the scroll reader's
    append-only page names): the service's stable ORDER BY id must be
    APPEND-ONLY — every new row takes an id greater than all existing
    ones, so consumed row positions never shift. Deletes or smaller-id
    inserts would silently remap LIMIT/OFFSET positions (duplicating
    some rows, skipping others), so both offset boundaries carry the id
    they last saw and ``partitions`` re-probes them (two 1-row GETs)
    and FAILS FAST on any mismatch instead."""

    def __init__(self, schema: StructType, options: dict) -> None:
        self.base_url, self.batch_size, self.timeout = _service_options(options)
        if "id_col" not in options:
            raise ValueError(
                "tbns_sql_http stream: 'id_col' option is required (the "
                "append-only cursor column the boundary re-probe checks)"
            )
        self.id_col = options["id_col"]
        self._schema = schema

    def _id_at(self, pos: int):
        rows = _get_jsonl(f"{self.base_url}/rows?limit=1&offset={pos}", self.timeout)
        return rows[0][self.id_col] if rows else None

    def initialOffset(self) -> dict:
        return {"n_rows": 0, "last_id": None}

    def latestOffset(self) -> dict:
        n = _get_count(f"{self.base_url}/count", self.timeout)
        return {"n_rows": n, "last_id": self._id_at(n - 1) if n else None}

    def partitions(self, start: dict, end: dict) -> Sequence[PagePartition]:
        for which, off in (("start", start), ("end", end)):
            n = off["n_rows"]
            if n > 0:
                got = self._id_at(n - 1)
                if got != off.get("last_id"):
                    raise RuntimeError(
                        "tbns_sql_http stream: row order changed under the "
                        f"offset ({which} boundary: expected id "
                        f"{off.get('last_id')!r} at position {n - 1}, "
                        f"service has {got!r}) — the queryset must be "
                        "append-only with monotone ids (no deletes, no "
                        "smaller-id inserts); fix the cursor column"
                    )
        lo, hi = start["n_rows"], end["n_rows"]
        return [
            PagePartition(
                i,
                f"{self.base_url}/rows?"
                f"limit={min(self.batch_size, hi - p)}&offset={p}",
            )
            for i, p in enumerate(range(lo, hi, self.batch_size))
        ]

    def read(self, partition: PagePartition) -> "Iterator":
        yield from _arrow_batches(_get_jsonl(partition.path, self.timeout), self._schema)

    def commit(self, end: dict) -> None:
        # a live backend would advance/ack a server-side cursor here
        pass


# --- stand-in service --------------------------------------------------------
#
# The offline backend for tests and the registered driver query: a
# stdlib HTTP server paginating one JSONL file, ordered by the id
# column — the smallest thing that honors the protocol above, the way
# sinks/es.py's keyed document store stands in for a live ES node.

_SERVERS: dict[tuple, str] = {}
_SERVERS_LOCK = threading.Lock()


class QuietHandler(BaseHTTPRequestHandler):
    """Request handler base for the in-process stand-in services: no
    per-request log lines, one call per response."""

    def log_message(self, *a):  # keep driver/pytest output clean
        pass

    def _reply(self, status: int, body: bytes = b"", content_type: str | None = None):
        self.send_response(status)
        if content_type is not None:
            self.send_header("Content-Type", content_type)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


def serve_memoized(key: tuple, handler: type[BaseHTTPRequestHandler]) -> str:
    """Start (or reuse) one daemon ``ThreadingHTTPServer`` per ``key``
    for the process lifetime; returns its base URL. Callers (registered
    queries, tests) may be invoked repeatedly and must not leak a
    listener per call, so ``key`` names everything the handler's
    responses depend on."""
    with _SERVERS_LOCK:
        if key not in _SERVERS:
            srv = ThreadingHTTPServer(("127.0.0.1", 0), handler)
            threading.Thread(target=srv.serve_forever, daemon=True).start()
            _SERVERS[key] = f"http://127.0.0.1:{srv.server_port}"
        return _SERVERS[key]


def _load_rows(path: str, id_col: str) -> list[dict]:
    rows = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if line:
                rows.append(json.loads(line))
    rows.sort(key=lambda r: r[id_col])  # the ORDER BY pk contract
    return rows


def _apply_bounds(rows: list[dict], id_col: str, params: dict) -> list[dict]:
    checks = {
        "id_eq": lambda v, b: v == b,
        "id_gt": lambda v, b: v > b,
        "id_gte": lambda v, b: v >= b,
        "id_lt": lambda v, b: v < b,
        "id_lte": lambda v, b: v <= b,
    }
    for name, check in checks.items():
        if name in params:
            bound = float(params[name])
            rows = [r for r in rows if check(r[id_col], bound)]
    return rows


def serve_jsonl_table(path: str, id_col: str) -> str:
    """Start (or reuse) the stand-in paginated-SQL service for one JSONL
    file ordered and bounded by ``id_col``; returns its base_url. One
    daemon server per (file path, id column) for the process lifetime."""
    key = os.path.abspath(path)

    class Handler(QuietHandler):
        def do_GET(self):
            u = urlparse(self.path)
            params = {k: v[0] for k, v in parse_qs(u.query).items()}
            rows = _apply_bounds(_load_rows(key, id_col), id_col, params)
            if u.path == "/count":
                self._reply(200, json.dumps({"count": len(rows)}).encode())
            elif u.path == "/rows":
                lo = int(params.get("offset", 0))
                hi = lo + int(params.get("limit", len(rows)))
                self._reply(200, "\n".join(json.dumps(r) for r in rows[lo:hi]).encode())
            else:
                self._reply(404)

    return serve_memoized(("jsonl_table", key, id_col), Handler)
