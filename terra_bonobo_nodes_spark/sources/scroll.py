"""Paginated-scan source on the Spark 4 Python DataSource API.

The reference has two serial, driver-side pagination loops: the ES
scroll scan (S5 ``ESExtract``: 5000-hit pages on a 2m scroll cursor,
``elasticsearch.py:33-44``) and the LIMIT/OFFSET feature pagination
(S4 ``ExtractFeatures``: 1000-row pages, ``terra.py:194-211``). Both
fetch page after page on one thread and push rows downstream.

Re-expressed Spark-first, each PAGE is an ``InputPartition``: planning
enumerates pages once on the driver (a cheap listing/count probe, the
equivalent of opening the scroll), the page FETCHES run on executors in
parallel, and Catalyst's predicate pushdown reaches the source through
``pushFilters`` — range/equality predicates on the configured id column
are served source-side (the way the real ES connector compiles filters
into query DSL) instead of post-scan.

Backend: a directory of JSONL page files (``page-*.json``) stands in
for the scroll service in this environment; ``fetch_page`` is the seam
a live deployment overrides with an HTTP/ES client (the subclass is
cloudpickled to the executors with the source, so clients initialize
per partition — SURVEY §2.9's per-partition service injection).
``sql_http.py`` is the worked live graft: the same reader paging an
HTTP service in LIMIT/OFFSET windows, bounds forwarded as query params.

Usage::

    spark.dataSource.register(ScrollDataSource)
    df = (spark.read.format("tbns_scroll")
          .schema("id BIGINT, name STRING")
          .option("path", pages_dir).option("id_col", "id").load())

UPSTREAM CAVEAT (Spark 4.1, pinned by
tests/test_datasource.py::test_pushed_filters_leak_into_filterless_rescan):
Spark caches the planned scan of a Python data source on the loaded
relation, and a FILTERLESS re-query of the same ``load()`` result
reuses the most recently planned scan — stale pushed bounds included
(queries that carry their own filters re-plan correctly). Until that
is fixed upstream, treat one ``load()`` as one logical query: derive
independently-filtered scans from separate ``load()`` calls.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


class PagePartition(InputPartition):
    def __init__(self, index: int, path: str) -> None:
        self.index = index
        self.path = path


def _list_pages(path: str) -> list[str]:
    """Sorted page-file listing — the one place the page-naming
    convention lives (both readers and their tests share it)."""
    return sorted(
        os.path.join(path, n)
        for n in os.listdir(path)
        if n.startswith("page-") and n.endswith(".json")
    )


def _read_page_file(path: str):
    """JSONL page parse — the one stand-in backend both readers fetch
    pages through."""
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield json.loads(line)


class ScrollDataSource(DataSource):
    """``format("tbns_scroll")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "tbns_scroll"

    def schema(self) -> str:
        # never infer: a scroll source at 100 TB cannot afford a
        # sampling pass, and the reference's _source docs are schemaless
        # — the caller declares the projection (jsonl.py convention)
        raise ValueError(
            "tbns_scroll requires an explicit schema: "
            'spark.read.format("tbns_scroll").schema("id BIGINT, ...")'
        )

    def reader(self, schema: StructType) -> ScrollReader:
        return ScrollReader(schema, self.options)

    def streamReader(self, schema: StructType) -> "ScrollStreamReader":
        return ScrollStreamReader(schema, self.options)


ARROW_BATCH_ROWS = 4096  # rows per emitted RecordBatch (ES page order)


def _arrow_batches(
    records: Iterator[dict], schema: StructType
) -> Iterator:
    """Pack record dicts into Arrow RecordBatches — the DataSource fast
    path: rows cross the Python/JVM boundary as columnar Arrow buffers
    instead of one pickled tuple at a time (the same row-vs-Arrow gap
    as plain UDFs vs pandas UDFs). Missing keys become nulls."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    aschema = to_arrow_schema(schema)
    names = [f.name for f in schema.fields]
    chunk: list[dict] = []
    for rec in records:
        chunk.append({n: rec.get(n) for n in names})
        if len(chunk) >= ARROW_BATCH_ROWS:
            yield pa.RecordBatch.from_pylist(chunk, schema=aschema)
            chunk = []
    if chunk:
        yield pa.RecordBatch.from_pylist(chunk, schema=aschema)


class ScrollReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict) -> None:
        self.path = options.get("path")
        self.id_col = options.get("id_col")
        self._schema = schema
        # (op, value) bounds pushed onto the id column; applied inside
        # fetch_page exactly like a service-side query would be
        self.bounds: list[tuple[str, float]] = []

    # --- planning (driver) --------------------------------------------------

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Consume range/equality predicates on ``id_col``; everything
        else stays with Spark. Called once during planning."""
        supported = {
            EqualTo: "==",
            GreaterThan: ">",
            GreaterThanOrEqual: ">=",
            LessThan: "<",
            LessThanOrEqual: "<=",
        }
        for f in filters:
            op = supported.get(type(f))
            if (
                op is not None
                and self.id_col is not None
                and f.attribute == (self.id_col,)
                and isinstance(f.value, (int, float))
            ):
                self.bounds.append((op, f.value))
            else:
                yield f  # Spark evaluates it post-scan

    def partitions(self) -> Sequence[PagePartition]:
        """One partition per page — the scroll cursor's serial walk
        becomes parallel fetches. The listing is the driver-side probe
        (a live backend would issue the scroll-open / COUNT here).
        A MISSING directory is a config error and raises; an existing
        directory with zero pages is a legitimately empty scroll (the
        extract ran before the first ingest) and scans as 0 rows —
        same contract as the streaming reader's idle state."""
        if self.path is None:
            raise ValueError("tbns_scroll: 'path' option is required")
        if not os.path.isdir(self.path):
            raise FileNotFoundError(
                f"tbns_scroll: page directory does not exist: {self.path}"
            )
        pages = _list_pages(self.path)
        if not pages:
            # Spark requires at least one partition; an empty-path
            # sentinel scans as zero rows (fetch_page yields nothing)
            return [PagePartition(0, "")]
        return [PagePartition(i, p) for i, p in enumerate(pages)]

    # --- execution (executors) ----------------------------------------------

    def fetch_page(self, partition: PagePartition) -> Iterator[dict]:
        """The service seam: yield one record dict per hit. The
        stand-in reads a JSONL page file; a live deployment overrides
        this with an HTTP/ES call that ALSO applies ``self.bounds``
        server-side (here they are applied in ``read`` either way, so
        an override that cannot push them stays correct)."""
        yield from _read_page_file(partition.path)

    def _keep(self, rec: dict) -> bool:
        if not self.bounds:
            return True
        v = rec.get(self.id_col)
        if v is None:
            return False
        # a pushed numeric bound against a non-numeric id value in a
        # JSONL record must filter the row, not raise TypeError on the
        # executor (booleans excluded: True > 0 would "match")
        if not isinstance(v, (int, float)) or isinstance(v, bool):
            return False
        return all(
            (op == "==" and v == bound)
            or (op == ">" and v > bound)
            or (op == ">=" and v >= bound)
            or (op == "<" and v < bound)
            or (op == "<=" and v <= bound)
            for op, bound in self.bounds
        )

    def read(self, partition: PagePartition) -> Iterator:
        if not partition.path:  # empty-scroll sentinel: 0 rows
            # guarded HERE, not in fetch_page, so a live-backend
            # override of the seam inherits the sentinel handling
            return
        kept = (r for r in self.fetch_page(partition) if self._keep(r))
        yield from _arrow_batches(kept, self._schema)


class ScrollStreamReader(DataSourceStreamReader):
    """Streaming form of the scroll scan: the reference's scroll cursor
    IS a progressing offset, so the mapping is direct — the offset is
    the count of pages consumed, ``latestOffset`` is the service probe
    ("how far has the scroll advanced"), and each micro-batch's
    ``partitions(start, end)`` are the newly arrived pages, fetched on
    executors through the same page parse as the batch reader.
    Exactly-once comes from Spark's offset log: a replayed batch
    re-reads the same page range (pages are immutable once written).

    CONTRACT: page names must arrive in lexicographically increasing
    order — the append-only property every scroll/changefeed cursor
    has by construction. A violation (a new page sorting before an
    already-consumed one, e.g. inconsistent zero-padding widths) would
    silently shift the index-based offsets, duplicating consumed pages
    and skipping the new one — so the offset carries the last consumed
    page name and ``partitions`` FAILS FAST on any mismatch instead."""

    def __init__(self, schema: StructType, options: dict) -> None:
        if "path" not in options:
            raise ValueError("tbns_scroll: 'path' option is required")
        self.path = options["path"]
        self._schema = schema

    def _pages(self) -> list[str]:
        if not os.path.isdir(self.path):
            return []
        return _list_pages(self.path)

    def initialOffset(self) -> dict:
        return {"n_pages": 0, "last": ""}

    def latestOffset(self) -> dict:
        pages = self._pages()
        return {
            "n_pages": len(pages),
            "last": os.path.basename(pages[-1]) if pages else "",
        }

    def partitions(self, start: dict, end: dict) -> Sequence[PagePartition]:
        pages = self._pages()

        def check(n: int, want: str, which: str) -> None:
            # BOTH offset boundaries must still name the same pages:
            # checking only the start would let a violation INSIDE the
            # batch range be read and committed before detection
            got = os.path.basename(pages[n - 1]) if 0 < n <= len(pages) else None
            if n > 0 and got != want:
                raise RuntimeError(
                    "tbns_scroll stream: page sequence changed under the "
                    f"offset ({which} boundary: expected page {n} to be "
                    f"{want!r}, listing has {got!r}) — page names must be "
                    "monotone in arrival order (append-only scroll "
                    "contract); fix the page-naming scheme"
                )

        check(start["n_pages"], start.get("last", ""), "start")
        check(end["n_pages"], end.get("last", ""), "end")
        new = pages[start["n_pages"] : end["n_pages"]]
        return [PagePartition(start["n_pages"] + i, p) for i, p in enumerate(new)]

    def read(self, partition: PagePartition) -> Iterator:
        yield from _arrow_batches(_read_page_file(partition.path), self._schema)

    def commit(self, end: dict) -> None:
        # a live scroll backend would release cursors/acks up to `end`;
        # the file stand-in has nothing to release
        pass


# --- write side: bulk indexing as a DataSourceWriter ------------------------


@dataclass
class BulkCommitMessage(WriterCommitMessage):
    task_file: str
    n_docs: int


class BulkIndexDataSource(DataSource):
    """``format("tbns_bulk")`` — the K2 ``LoadInES`` bulk window
    (1000-doc flushes, ``elasticsearch.py:62-98``) as a Python
    DataSourceWriter with a real TWO-PHASE COMMIT: every task writes
    its bulk batches to a staging area and returns a commit message;
    the driver's ``commit`` publishes a manifest of exactly the task
    files that succeeded (``abort`` removes them), so a failed or
    speculatively re-run task can never leave half-indexed documents
    visible — the transactional guarantee the reference approximates
    with per-window DB transactions (terra.py:155-161).

    Stand-in backend: JSONL bulk files under ``path`` + a
    ``_manifest.json``; ``flush_bulk`` is the client seam a live ES
    deployment overrides with a ``helpers.bulk`` call.
    ``mode("append")`` merges into the existing manifest;
    ``mode("overwrite")`` replaces it (and removes superseded staging
    files). Staging names carry a job-unique token so leftovers from a
    crashed earlier application can never be republished."""

    @classmethod
    def name(cls) -> str:
        return "tbns_bulk"

    def writer(self, schema: StructType, overwrite: bool) -> "BulkIndexWriter":
        return BulkIndexWriter(schema, self.options, overwrite)


class BulkIndexWriter(DataSourceArrowWriter):
    def __init__(self, schema: StructType, options: dict, overwrite: bool) -> None:
        if "path" not in options:
            raise ValueError("tbns_bulk: 'path' option is required")
        self.path = options["path"]
        self.window = int(options.get("window", 1000))  # LoadInES length
        self.overwrite = overwrite
        # ADVICE_r06: abort() never runs for a crashed DRIVER, so its
        # orphaned staging files (invisible to readers, but disk) leak
        # across failed jobs. gc_orphans=true lets the next successful
        # commit sweep every staging file absent from the merged
        # manifest. Default OFF: with CONCURRENT writers to one store,
        # the sweep would delete another in-flight job's staged (not yet
        # committed) files — only enable under a single-writer regime.
        self.gc_orphans = str(options.get("gc_orphans", "false")).lower() in (
            "true",
            "1",
        )
        # job-unique token, generated on the driver and shipped to every
        # task: staging names depend on it, so a crashed PREVIOUS
        # application's leftover staging files (whose abort() never saw
        # a message) can never collide with — or be appended to and then
        # published by — a later job. Without this, partition/attempt
        # ids restart per application and ghost-publish is possible.
        import uuid

        self.job_token = uuid.uuid4().hex[:12]

    # --- executor side ------------------------------------------------------

    def flush_bulk(self, task_file: str, docs: list[dict]) -> None:
        """The client seam: one bulk call per window. Stand-in appends
        to the task's staging file; a live deployment posts to ES and
        (matching the reference's contract, elasticsearch.py:81-84)
        decides whether to log-and-continue or raise per batch.
        ``default=str`` makes timestamp/date/decimal/binary columns
        serializable — the stand-in's JSON rendering of them, exactly
        what an ES _source document would carry."""
        with open(task_file, "a", encoding="utf-8") as fh:
            for d in docs:
                fh.write(json.dumps(d, default=str) + "\n")

    def write(self, iterator: Iterator) -> BulkCommitMessage:
        # DataSourceArrowWriter: rows arrive as columnar Arrow
        # RecordBatches (the same row-vs-Arrow boundary win as the
        # reader side), converted per batch into the bulk-doc dicts
        # the flush seam posts
        from pyspark import TaskContext

        ctx = TaskContext.get()
        stage = os.path.join(self.path, "_staging")
        os.makedirs(stage, exist_ok=True)
        # job token + attempt id: a speculative/retried task writes its
        # OWN file, and only the attempt whose message reaches commit()
        # is published
        task_file = os.path.join(
            stage,
            f"task-{self.job_token}-{ctx.partitionId():05d}"
            f"-{ctx.taskAttemptId()}.json",
        )
        n = 0
        buf: list[dict] = []
        for batch in iterator:
            for rec in batch.to_pylist():
                buf.append(rec)
                n += 1
                if len(buf) >= self.window:
                    self.flush_bulk(task_file, buf)
                    buf = []
        if buf:
            self.flush_bulk(task_file, buf)
        if n == 0:
            task_file = ""  # nothing staged; nothing to publish
        return BulkCommitMessage(task_file=task_file, n_docs=n)

    # --- driver side --------------------------------------------------------

    def commit(self, messages) -> None:
        """Publish this job's task files. ``mode("append")`` MERGES
        with the existing manifest (earlier jobs' documents stay
        visible); ``mode("overwrite")`` replaces it and deletes the
        superseded staging files."""
        files = sorted(
            os.path.basename(m.task_file)
            for m in messages
            if m is not None and m.task_file
        )
        n_docs = sum(m.n_docs for m in messages if m is not None)
        mpath = os.path.join(self.path, "_manifest.json")
        old_files: list[str] = []
        old_docs = 0
        if os.path.exists(mpath):
            with open(mpath, encoding="utf-8") as fh:
                prev = json.load(fh)
            old_files = prev.get("files", [])
            old_docs = prev.get("n_docs", 0)
        if self.overwrite:
            manifest = {"files": files, "n_docs": n_docs}
        else:
            manifest = {
                "files": sorted(set(old_files) | set(files)),
                "n_docs": old_docs + n_docs,
            }
        with open(mpath, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh)
        stage = os.path.join(self.path, "_staging")
        if self.overwrite:
            for name in set(old_files) - set(files):
                superseded = os.path.join(stage, name)
                if os.path.exists(superseded):
                    os.remove(superseded)
        if self.gc_orphans and os.path.isdir(stage):
            # single-writer GC (see __init__): anything staged but not
            # in the manifest we just published is an orphan — a crashed
            # earlier driver's leftovers or this job's failed attempts
            published = set(manifest["files"])
            for name in os.listdir(stage):
                if name.startswith("task-") and name not in published:
                    os.remove(os.path.join(stage, name))

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and m.task_file and os.path.exists(m.task_file):
                os.remove(m.task_file)


def read_bulk_store(path: str) -> list[dict]:
    """Read back ONLY the committed documents: the manifest is the
    source of truth — stray staging files from failed attempts are
    invisible, which is the point of the two-phase protocol."""
    mpath = os.path.join(path, "_manifest.json")
    if not os.path.exists(mpath):
        return []
    with open(mpath, encoding="utf-8") as fh:
        manifest = json.load(fh)
    docs: list[dict] = []
    for name in manifest["files"]:
        with open(os.path.join(path, "_staging", name), encoding="utf-8") as fh:
            docs.extend(json.loads(line) for line in fh if line.strip())
    return docs
