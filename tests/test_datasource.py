"""Spark 4 Python DataSource: the paginated scroll source (S4/S5 scan
patterns as partition-per-page parallel fetches with filter pushdown)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.sources.scroll import ScrollDataSource


@pytest.fixture()
def pages_dir(tmp_path):
    # 3 pages x 4 hits, ids 0..11 — the scroll service stand-in
    for p in range(3):
        lines = [
            json.dumps({"id": p * 4 + i, "name": f"doc{p * 4 + i}", "score": 0.5 + i})
            for i in range(4)
        ]
        (tmp_path / f"page-{p:05d}.json").write_text("\n".join(lines))
    return str(tmp_path)


def _read(spark, path):
    spark.dataSource.register(ScrollDataSource)
    return (
        spark.read.format("tbns_scroll")
        .schema("id BIGINT, name STRING, score DOUBLE")
        .option("path", path)
        .option("id_col", "id")
        .load()
    )


def test_scroll_source_reads_all_pages_in_parallel_partitions(spark, pages_dir):
    df = _read(spark, pages_dir)
    rows = sorted(tuple(r) for r in df.collect())
    assert len(rows) == 12
    assert rows[0] == (0, "doc0", 0.5) and rows[11] == (11, "doc11", 3.5)
    # one InputPartition per page: the serial scroll walk parallelized
    assert df.rdd.getNumPartitions() == 3


def test_scroll_source_pushes_id_range_to_the_source(spark, pages_dir):
    df = _read(spark, pages_dir).where((F.col("id") >= 3) & (F.col("id") < 10))
    # the range predicates were CONSUMED by pushFilters, so Spark no
    # longer re-applies them post-scan — the plan's only residual
    # filter is the isnotnull we yielded back, and a correct result
    # therefore PROVES the source served the bounds itself
    assert sorted(r["id"] for r in df.collect()) == [3, 4, 5, 6, 7, 8, 9]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan tbns_scroll" in plan
    assert ">=" not in plan and "< 10" not in plan  # pushed, not residual


def test_scroll_source_leaves_unsupported_filters_to_spark(spark, pages_dir):
    # a non-id filter is NOT consumed by pushFilters; Spark applies it
    df = _read(spark, pages_dir).where(F.col("name") == "doc5")
    assert [r["id"] for r in df.collect()] == [5]


def test_scroll_pushed_bound_filters_non_numeric_id(spark, tmp_path):
    lines = [
        json.dumps({"id": 1, "name": "a"}),
        json.dumps({"id": "oops", "name": "b"}),  # malformed upstream hit
        json.dumps({"id": True, "name": "c"}),  # JSON bool is not an id
        json.dumps({"id": 7, "name": "d"}),
    ]
    (tmp_path / "page-00000.json").write_text("\n".join(lines))
    spark.dataSource.register(ScrollDataSource)
    df = (
        spark.read.format("tbns_scroll")
        .schema("id BIGINT, name STRING")
        .option("path", str(tmp_path))
        .option("id_col", "id")
        .load()
        .where(F.col("id") >= 0)  # consumed by pushFilters
    )
    # previously: TypeError('>=' between str and int) on the executor
    assert sorted(r["name"] for r in df.collect()) == ["a", "d"]


def test_scroll_source_requires_schema_and_path(spark, pages_dir):
    spark.dataSource.register(ScrollDataSource)
    with pytest.raises(Exception, match="explicit schema"):
        spark.read.format("tbns_scroll").option("path", pages_dir).load()
    with pytest.raises(Exception, match="path"):
        (
            spark.read.format("tbns_scroll")
            .schema("id BIGINT")
            .load()
            .collect()
        )


def test_scroll_source_client_seam_override(spark):
    """A live-backend subclass only overrides fetch_page — the seam the
    ES/HTTP deployment uses; bounds still apply even when the override
    cannot push them server-side."""
    from terra_bonobo_nodes_spark.sources.scroll import ScrollReader

    class FakeServiceSource(ScrollDataSource):
        @classmethod
        def name(cls):
            return "tbns_scroll_fake"

        def reader(self, schema):
            class R(ScrollReader):
                def partitions(self):
                    from terra_bonobo_nodes_spark.sources.scroll import PagePartition

                    return [PagePartition(i, f"cursor-{i}") for i in range(2)]

                def fetch_page(self, partition):
                    base = partition.index * 3
                    for i in range(3):
                        yield {"id": base + i, "name": f"svc{base + i}"}

            return R(schema, {**dict(self.options), "path": "<service>"})

    spark.dataSource.register(FakeServiceSource)
    df = (
        spark.read.format("tbns_scroll_fake")
        .schema("id BIGINT, name STRING")
        .option("path", "unused")
        .option("id_col", "id")
        .load()
        .where(F.col("id") >= 2)
    )
    assert sorted(r["id"] for r in df.collect()) == [2, 3, 4, 5]


def test_scroll_stream_reader_picks_up_new_pages(spark, pages_dir, tmp_path):
    """The scroll cursor as a streaming offset: pages present at start
    arrive in the first micro-batch; pages appended while the stream
    runs arrive in later ones. Offsets are page counts, so Spark's
    offset log gives exactly-once over the append-only page sequence."""
    import json as _json
    import time

    spark.dataSource.register(ScrollDataSource)
    stream = (
        spark.readStream.format("tbns_scroll")
        .schema("id BIGINT, name STRING, score DOUBLE")
        .option("path", pages_dir)
        .load()
    )
    name = "scroll_stream_sink"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        def wait_for(n, timeout=60):
            deadline = time.time() + timeout
            while time.time() < deadline:
                if spark.table(name).count() >= n:
                    return True
                time.sleep(0.5)
            return False

        assert wait_for(12), "initial pages never arrived"
        # a new page lands while the stream is running
        extra = [
            _json.dumps({"id": 100 + i, "name": f"late{i}", "score": 1.0})
            for i in range(2)
        ]
        import os as _os

        with open(_os.path.join(pages_dir, "page-99999.json"), "w") as fh:
            fh.write("\n".join(extra))
        assert wait_for(14), "late page never arrived"
        got = {r["id"] for r in spark.table(name).collect()}
        assert got == set(range(12)) | {100, 101}
    finally:
        q.stop()


# --- write side: bulk-index writer with two-phase commit --------------------


def test_bulk_writer_two_phase_commit_roundtrip(spark, tmp_path):
    from terra_bonobo_nodes_spark.sources.scroll import (
        BulkIndexDataSource,
        read_bulk_store,
    )

    spark.dataSource.register(BulkIndexDataSource)
    d = str(tmp_path / "bulk")
    df = spark.createDataFrame(
        [(i, f"doc{i}") for i in range(10)], "id long, name string"
    ).repartition(3)
    (
        df.write.format("tbns_bulk")
        .mode("append")
        .option("path", d)
        .option("window", "3")  # LoadInES-style small flush windows
        .save()
    )
    docs = read_bulk_store(d)
    assert sorted(r["id"] for r in docs) == list(range(10))
    import json as _json
    import os as _os

    manifest = _json.load(open(_os.path.join(d, "_manifest.json")))
    assert manifest["n_docs"] == 10
    assert 1 <= len(manifest["files"]) <= 3  # one staged file per task


def test_bulk_writer_failed_job_publishes_nothing(spark, tmp_path):
    """A task failure mid-job must leave the store EMPTY to readers:
    no manifest is committed, and stray staging files from the failed
    attempt are invisible because the manifest is the source of truth."""
    from terra_bonobo_nodes_spark.sources.scroll import (
        BulkIndexDataSource,
        BulkIndexWriter,
        read_bulk_store,
    )

    class FailingBulkSource(BulkIndexDataSource):
        @classmethod
        def name(cls):
            return "tbns_bulk_failing"

        def writer(self, schema, overwrite):
            class W(BulkIndexWriter):
                def flush_bulk(self, task_file, docs):
                    if any(d["id"] == 7 for d in docs):
                        raise RuntimeError("bulk endpoint rejected batch")
                    super().flush_bulk(task_file, docs)

            return W(schema, dict(self.options), overwrite)

    spark.dataSource.register(FailingBulkSource)
    d = str(tmp_path / "bulk_fail")
    df = spark.createDataFrame(
        [(i, f"doc{i}") for i in range(10)], "id long, name string"
    ).repartition(2)
    with pytest.raises(Exception, match="bulk endpoint rejected"):
        (
            df.write.format("tbns_bulk_failing")
            .mode("append")
            .option("path", d)
            .option("window", "2")
            .save()
        )
    assert read_bulk_store(d) == []  # nothing committed, nothing visible


def test_bulk_writer_append_merges_and_overwrite_replaces(spark, tmp_path):
    """Second review findings: append must MERGE with the existing
    manifest (no silent loss of earlier jobs' documents); overwrite
    replaces it and removes superseded staging files; non-JSON-native
    column types (timestamps) serialize through the stand-in."""
    import os as _os
    from datetime import datetime as _dt

    from terra_bonobo_nodes_spark.sources.scroll import (
        BulkIndexDataSource,
        read_bulk_store,
    )

    spark.dataSource.register(BulkIndexDataSource)
    d = str(tmp_path / "bulk_merge")

    def write(ids, mode):
        df = spark.createDataFrame(
            [(i, _dt(2024, 1, 1, i)) for i in ids], "id long, ts timestamp"
        ).coalesce(1)
        df.write.format("tbns_bulk").mode(mode).option("path", d).save()

    write([1, 2], "append")
    write([3], "append")
    docs = read_bulk_store(d)
    assert sorted(r["id"] for r in docs) == [1, 2, 3]  # merged, not replaced
    assert all("2024-01-01" in r["ts"] for r in docs)  # timestamps serialized

    write([9], "overwrite")
    assert [r["id"] for r in read_bulk_store(d)] == [9]
    staged = _os.listdir(_os.path.join(d, "_staging"))
    assert len(staged) == 1  # superseded staging files removed


def test_bulk_writer_gc_orphans_sweeps_crashed_job_leftovers(spark, tmp_path):
    from terra_bonobo_nodes_spark.sources.scroll import (
        BulkIndexDataSource,
        read_bulk_store,
    )

    spark.dataSource.register(BulkIndexDataSource)
    d = str(tmp_path / "bulk")
    stage = os.path.join(d, "_staging")
    os.makedirs(stage)
    # a crashed earlier driver's orphan: staged, never committed/aborted
    orphan = os.path.join(stage, "task-deadbeef0123-00000-1.json")
    with open(orphan, "w") as fh:
        fh.write('{"id": 99, "name": "ghost"}\n')

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    w = df.write.format("tbns_bulk").mode("append").option("path", d)
    # default: orphan is invisible to readers but kept on disk
    w.save()
    assert os.path.exists(orphan)
    assert sorted(r["id"] for r in read_bulk_store(d)) == [1, 2]
    # gc_orphans=true: the next commit sweeps it; committed files stay
    w.option("gc_orphans", "true").save()
    assert not os.path.exists(orphan)
    assert sorted(r["id"] for r in read_bulk_store(d)) == [1, 1, 2, 2]


def test_scroll_batch_read_of_empty_directory_is_zero_rows(spark, tmp_path):
    """An existing-but-empty page directory is a legitimately empty
    scroll (extract before first ingest) — 0 rows, not a crash; a
    MISSING directory is still a config error."""
    import os as _os

    d = str(tmp_path / "empty_pages")
    _os.makedirs(d)
    df = _read(spark, d)
    assert df.count() == 0
    with pytest.raises(Exception, match="does not exist"):
        _read(spark, str(tmp_path / "nope")).count()


def test_scroll_stream_rejects_non_monotone_page_names(spark, tmp_path):
    """A new page sorting BEFORE a consumed one would silently shift
    index offsets (duplicate + skip); the offset carries the last
    consumed name and the stream fails fast instead."""
    import json as _json
    import os as _os
    import time

    d = str(tmp_path / "pages_mono")
    _os.makedirs(d)
    for p in range(2):
        with open(_os.path.join(d, f"page-{p:05d}.json"), "w") as fh:
            fh.write(_json.dumps({"id": p, "name": f"doc{p}", "score": 0.0}))
    spark.dataSource.register(ScrollDataSource)
    stream = (
        spark.readStream.format("tbns_scroll")
        .schema("id BIGINT, name STRING, score DOUBLE")
        .option("path", d)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("scroll_mono_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt_mono"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and spark.table("scroll_mono_sink").count() < 2:
            time.sleep(0.5)
        assert spark.table("scroll_mono_sink").count() == 2
        # 'page-0.json' sorts BEFORE the consumed 'page-00000.json'
        with open(_os.path.join(d, "page-0.json"), "w") as fh:
            fh.write(_json.dumps({"id": 99, "name": "bad", "score": 0.0}))
        deadline = time.time() + 60
        while time.time() < deadline and q.exception() is None:
            time.sleep(0.5)
        exc = q.exception()
        assert exc is not None and "monotone" in str(exc)
    finally:
        q.stop()


def test_s10_registered_query_consumes_pushed_bounds(spark):
    """The driver-registered roundtrip (s10_scroll_bulk_roundtrip) must
    actually push its doc_id bound into the scroll source under the
    tuned session: no residual >= filter in the executed plan."""
    from terra_bonobo_nodes_spark.plans.registry import all_queries
    from tests.conftest import SF_DIR

    df = all_queries()["s10_scroll_bulk_roundtrip"].spark_fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan tbns_scroll" in plan
    assert ">= 100" not in plan  # consumed by pushFilters, not residual


def test_pushed_filters_leak_into_filterless_rescan(spark, pages_dir):
    """Documents an UPSTREAM Spark behavior our readers live with: the
    planned scan of a Python data source is cached on the loaded
    relation, and a FILTERLESS query against the same relation reuses
    the most recent plan — stale pushed bounds included. Queries that
    carry their own filters re-plan correctly. The library guidance
    (scroll.py docstring) is one load() per logical query; this test
    exists so a Spark upgrade that fixes the caching flips it red and
    we can drop the caveat."""
    df = _read(spark, pages_dir)
    assert df.count() == 12  # planned filterless first: correct
    assert df.where((F.col("id") >= 3) & (F.col("id") < 10)).count() == 7
    # the stale [3, 10) plan is what a filterless rescan now reuses
    assert df.count() == 7  # UPSTREAM CAVEAT — would be 12 if fixed
    assert df.where(F.col("id") >= 10).count() == 2  # re-plans: correct
    assert _read(spark, pages_dir).count() == 12  # fresh load: correct


# --- tbns_sql_http: LIMIT/OFFSET pagination over HTTP (round 9) --------------


def _sql_http_load(spark, base_url, batch_size=4):
    # one load() per logical query (the plan-cache caveat pinned above)
    return (
        spark.read.format("tbns_sql_http")
        .schema("id BIGINT, name STRING")
        .option("base_url", base_url)
        .option("id_col", "id")
        .option("batch_size", str(batch_size))
        .load()
    )


def test_sql_http_pagination_and_pushdown(spark, tmp_path):
    """The ExtractFeatures LIMIT/OFFSET contract (terra.py:177-211) on
    the stand-in service: ceil(count/batch) window partitions, the
    pushed id bound applied to BOTH /count and /rows (so offsets
    enumerate the bounded queryset), every row recovered exactly."""
    from terra_bonobo_nodes_spark.sources.sql_http import (
        SqlHttpDataSource,
        serve_jsonl_table,
    )

    path = tmp_path / "db.jsonl"
    path.write_text(
        "\n".join(json.dumps({"id": i, "name": f"rec{i}"}) for i in range(10))
    )
    base = serve_jsonl_table(str(path), "id")
    spark.dataSource.register(SqlHttpDataSource)

    df = _sql_http_load(spark, base)
    assert df.rdd.getNumPartitions() == 3  # ceil(10 / 4) windows
    assert sorted(r["id"] for r in df.collect()) == list(range(10))

    bounded = _sql_http_load(spark, base).where(F.col("id") >= 6)
    # bound reaches /count: 4 remaining rows -> ONE window, not three
    assert bounded.rdd.getNumPartitions() == 1
    assert sorted(r["id"] for r in bounded.collect()) == [6, 7, 8, 9]

    # the upper bound travels too: 5 rows in [3, 8) -> two windows, and
    # 4 rows in [3, 7) -> one (the 7 rows of [3, 10) would need two)
    window = _sql_http_load(spark, base).where((F.col("id") >= 3) & (F.col("id") < 8))
    assert window.rdd.getNumPartitions() == 2
    assert sorted(r["id"] for r in window.collect()) == [3, 4, 5, 6, 7]
    narrow = _sql_http_load(spark, base).where((F.col("id") >= 3) & (F.col("id") < 7))
    assert narrow.rdd.getNumPartitions() == 1


def test_s3_http_sql_pagination_serves_a_regenerated_table(spark, tmp_path):
    """The row's JSONL export outlives the process, keyed on sf_dir: a
    table regenerated at the same sf_dir must be served afresh, not
    from the export of the old table."""
    import hashlib
    import shutil
    import tempfile

    import duckdb

    from terra_bonobo_nodes_spark.plans.registry import all_queries
    from tests.conftest import SF_DIR, assert_matches_oracle

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    src = os.path.join(sf_dir, "supplier.parquet")
    shutil.copy(os.path.join(SF_DIR, "supplier.parquet"), src)
    q = all_queries()["s3_http_sql_pagination"]
    export = os.path.join(
        tempfile.gettempdir(),
        f"tbns_sqlhttp_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}.jsonl",
    )
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW supplier AS SELECT * FROM '{src}'")
        assert_matches_oracle(q.spark_fn(spark, sf_dir), con, q.oracle)
        con.execute(
            f"COPY (SELECT * REPLACE (s_acctbal + 1 AS s_acctbal) "
            f"FROM read_parquet('{SF_DIR}/supplier.parquet')) TO '{src}' "
            "(FORMAT parquet)"
        )
        assert_matches_oracle(q.spark_fn(spark, sf_dir), con, q.oracle)
    finally:
        con.close()
        if os.path.exists(export):
            os.remove(export)


def test_serve_jsonl_table_keys_its_server_on_the_id_column(tmp_path):
    """One file served under two id columns gets two servers, each
    ordering and bounding rows by its own column; a repeated call
    reuses the server."""
    from terra_bonobo_nodes_spark.sources.sql_http import _get_jsonl, serve_jsonl_table

    path = tmp_path / "two_keys.jsonl"
    path.write_text("\n".join(json.dumps({"a": i, "b": 9 - i}) for i in range(3)))
    url_a = serve_jsonl_table(str(path), "a")
    url_b = serve_jsonl_table(str(path), "b")
    assert url_a != url_b
    assert serve_jsonl_table(str(path), "a") == url_a
    assert [r["a"] for r in _get_jsonl(f"{url_a}/rows?id_lt=2", 30)] == [0, 1]
    assert [r["b"] for r in _get_jsonl(f"{url_b}/rows?id_lt=9", 30)] == [7, 8]


def test_sql_http_bound_ignoring_service_stays_correct(spark):
    """A service that serves windows but ignores the bound params must
    still yield the right answer: the client-side _keep re-check filters
    post-fetch (bounds are a bandwidth optimization, not a correctness
    dependency)."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qs, urlparse

    from terra_bonobo_nodes_spark.sources.sql_http import SqlHttpDataSource

    rows = [{"id": i, "name": f"r{i}"} for i in range(8)]

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            u = urlparse(self.path)
            params = {k: v[0] for k, v in parse_qs(u.query).items()}
            if u.path == "/count":
                body = json.dumps({"count": len(rows)}).encode()  # bound IGNORED
            else:
                lo = int(params.get("offset", 0))
                hi = lo + int(params.get("limit", len(rows)))
                body = "\n".join(json.dumps(r) for r in rows[lo:hi]).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        spark.dataSource.register(SqlHttpDataSource)
        df = _sql_http_load(
            spark, f"http://127.0.0.1:{srv.server_port}", batch_size=3
        ).where(F.col("id") >= 5)
        assert sorted(r["id"] for r in df.collect()) == [5, 6, 7]
    finally:
        srv.shutdown()
        srv.server_close()


def test_sql_http_batch_read_snapshots_the_probed_count(spark, tmp_path):
    """The ADVICE_r09 finding: the final window used to request a full
    batch_size, so rows appended between the /count probe and the last
    page fetch leaked into the batch scan. The last window's limit is
    now capped at total - offset — the batch read is bounded by the
    probed count (the streaming reader is the tailing form)."""
    from pyspark.sql.types import StructType

    from terra_bonobo_nodes_spark.sources.sql_http import (
        SqlHttpReader,
        serve_jsonl_table,
    )

    path = tmp_path / "grow.jsonl"
    path.write_text(
        "\n".join(json.dumps({"id": i, "name": f"r{i}"}) for i in range(10))
    )
    base = serve_jsonl_table(str(path), "id")
    reader = SqlHttpReader(
        StructType(), {"base_url": base, "id_col": "id", "batch_size": "4"}
    )
    parts = reader.partitions()  # /count probe sees 10 rows -> 3 windows
    assert [p.path.split("limit=")[1].split("&")[0] for p in parts] == [
        "4", "4", "2",  # final window capped at total - offset
    ]
    # rows appended AFTER planning (larger ids: the append-only shape)
    with open(path, "a") as fh:
        fh.write("\n" + json.dumps({"id": 10, "name": "late"}))
    got = sorted(r["id"] for p in parts for r in reader.fetch_page(p))
    assert got == list(range(10))  # the late row did not leak


def test_sql_http_empty_queryset_scans_zero_rows(spark, tmp_path):
    from terra_bonobo_nodes_spark.sources.sql_http import (
        SqlHttpDataSource,
        serve_jsonl_table,
    )

    path = tmp_path / "empty.jsonl"
    path.write_text("")
    base = serve_jsonl_table(str(path), "id")
    spark.dataSource.register(SqlHttpDataSource)
    assert _sql_http_load(spark, base).count() == 0


def test_sql_http_rejects_bad_options(spark):
    from terra_bonobo_nodes_spark.sources.sql_http import SqlHttpReader
    from pyspark.sql.types import StructType

    with pytest.raises(ValueError, match="base_url"):
        SqlHttpReader(StructType(), {})
    with pytest.raises(ValueError, match="batch_size"):
        SqlHttpReader(StructType(), {"base_url": "http://x", "batch_size": "0"})


def test_sql_http_stream_tails_appended_rows(spark, tmp_path):
    """The LIMIT/OFFSET cursor as a streaming offset: rows present at
    start arrive in the first micro-batch, rows appended (with HIGHER
    ids — the append-only contract) arrive in later ones, each row
    exactly once."""
    import time

    from terra_bonobo_nodes_spark.sources.sql_http import (
        SqlHttpDataSource,
        serve_jsonl_table,
    )

    path = tmp_path / "tail.jsonl"
    path.write_text(
        "\n".join(json.dumps({"id": i, "name": f"r{i}"}) for i in range(5))
    )
    base = serve_jsonl_table(str(path), "id")
    spark.dataSource.register(SqlHttpDataSource)
    stream = (
        spark.readStream.format("tbns_sql_http")
        .schema("id BIGINT, name STRING")
        .option("base_url", base)
        .option("id_col", "id")
        .option("batch_size", "2")
        .load()
    )
    name = "sql_http_stream_sink"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        def wait_for(n, timeout=60):
            deadline = time.time() + timeout
            while time.time() < deadline:
                if spark.table(name).count() >= n:
                    return True
                time.sleep(0.5)
            return False

        assert wait_for(5), "initial rows never arrived"
        with open(path, "a") as fh:
            fh.write("\n" + "\n".join(
                json.dumps({"id": 100 + i, "name": f"late{i}"}) for i in range(3)
            ))
        assert wait_for(8), "appended rows never arrived"
        got = sorted(r["id"] for r in spark.table(name).collect())
        assert got == [0, 1, 2, 3, 4, 100, 101, 102]  # exactly once each
    finally:
        q.stop()


def test_sql_http_stream_rejects_smaller_id_insert(spark, tmp_path):
    """A smaller-id insert remaps every LIMIT/OFFSET position after it;
    the boundary re-probe must kill the stream rather than silently
    duplicate/skip rows."""
    import time

    from terra_bonobo_nodes_spark.sources.sql_http import (
        SqlHttpDataSource,
        serve_jsonl_table,
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    path = tmp_path / "bad.jsonl"
    path.write_text(
        "\n".join(json.dumps({"id": 10 + i, "name": f"r{i}"}) for i in range(4))
    )
    base = serve_jsonl_table(str(path), "id")
    spark.dataSource.register(SqlHttpDataSource)
    stream = (
        spark.readStream.format("tbns_sql_http")
        .schema("id BIGINT, name STRING")
        .option("base_url", base)
        .option("id_col", "id")
        .load()
    )
    name = "sql_http_stream_bad_sink"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and spark.table(name).count() < 4:
            time.sleep(0.5)
        assert spark.table(name).count() == 4
        # id 1 sorts BEFORE every consumed row: violation
        with open(path, "a") as fh:
            fh.write("\n" + json.dumps({"id": 1, "name": "intruder"}))
        with pytest.raises(StreamingQueryException, match="append-only"):
            q.awaitTermination(60)
    finally:
        q.stop()
