"""Structured Streaming tests: the window operators run through a real
readStream (availableNow → memory sink) and must agree with their batch
execution; stateful dedup and applyInPandasWithState exercise bounded
state; the foreachBatch sink upserts idempotently."""

from __future__ import annotations

import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.streaming import ops
from terra_bonobo_nodes_spark.tables import load_table
from tests.conftest import SF_DIR


def _run_stream(df, mode: str = "complete"):
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return name


def test_tumbling_stream_matches_batch(spark):
    stream = ops.read_events_stream(spark, SF_DIR)
    name = _run_stream(ops.tumbling_window_agg(stream, "1 hour"))
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table(name).collect()
    }
    batch = ops.tumbling_window_agg(load_table(spark, SF_DIR, "events"), "1 hour")
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in batch.collect()
    }
    assert got == want


def test_session_stream_matches_batch(spark):
    stream = ops.read_events_stream(spark, SF_DIR)
    name = _run_stream(ops.session_window_agg(stream, gap="1 hour"))
    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.table(name).collect()
    )
    batch = ops.session_window_agg(load_table(spark, SF_DIR, "events"), gap="1 hour")
    want = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in batch.collect()
    )
    assert got == want


def test_dedup_within_watermark_drops_dupes(spark):
    stream = ops.read_events_stream(spark, SF_DIR)
    deduped = ops.dedup_within_watermark(
        stream, ["user_id", "event_type"], watermark="30 days"
    )
    name = _run_stream(deduped.select("user_id", "event_type"), mode="append")
    got = spark.table(name)
    # watermark spans the whole dataset -> exact distinct semantics
    want = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", "event_type")
        .distinct()
    )
    assert got.count() == want.count()
    assert got.distinct().count() == got.count()


def test_running_totals_with_state(spark):
    stream = ops.read_events_stream(spark, SF_DIR)
    name = _run_stream(ops.running_totals_with_state(stream), mode="update")
    # update mode emits one row per user per micro-batch; the LAST row
    # per user carries the final running totals
    final = (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("running_n").alias("running_n"),
            F.max("running_total").alias("running_total"),
        )
    )
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total"),
        )
    )
    got = {r.user_id: (r.running_n, r.running_total) for r in final.collect()}
    want = {r.user_id: (r.n, r.total) for r in batch.collect()}
    assert set(got) == set(want)
    for uid, (n, total) in want.items():
        assert got[uid][0] == n
        assert got[uid][1] == pytest.approx(total, rel=1e-9)


def test_upsert_foreach_batch_idempotent(spark):
    tmp = tempfile.mkdtemp(prefix="tbns_upsert_")
    target = f"{tmp}/features"
    try:
        sink = ops.upsert_foreach_batch(target, id_col="identifier")
        b1 = spark.createDataFrame(
            [("a", 1), ("b", 2), ("a", 3)], ["identifier", "v"]
        )
        sink(b1, epoch_id=0)
        first = {r.identifier: r.v for r in spark.read.parquet(target).collect()}
        assert set(first) == {"a", "b"}
        b2 = spark.createDataFrame([("b", 9), ("c", 4)], ["identifier", "v"])
        sink(b2, epoch_id=1)
        second = {r.identifier: r.v for r in spark.read.parquet(target).collect()}
        assert second["b"] == 9 and second["c"] == 4 and "a" in second
        # replay of batch 2 (retry semantics) must not duplicate rows
        sink(b2, epoch_id=1)
        third = spark.read.parquet(target)
        assert third.count() == 3
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_watermark_drops_late_data(spark, tmp_path):
    """An event arriving after the watermark passed its window must not
    reopen the closed window (append mode only emits closed windows)."""
    import pandas as pd

    d = tmp_path / "stream_src"
    d.mkdir()
    # batch 1: events at 10:00-10:30, max ts 12:00 pushes watermark
    pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": pd.to_datetime(
                ["2024-01-01 10:00:00", "2024-01-01 10:30:00", "2024-01-01 12:00:00"]
            ),
            "user_id": [1, 1, 1],
            "event_type": ["a", "a", "a"],
            "value": [1.0, 1.0, 1.0],
            "props": ["{}", "{}", "{}"],
        }
    ).to_parquet(d / "b1.parquet", coerce_timestamps="us")

    schema = (
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
        "value DOUBLE, props STRING"
    )
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_available():
        stream = (
            spark.readStream.schema(schema)
            .parquet(str(d))
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
            .select(F.unix_timestamp("w.start").alias("ws"), "n", "s")
        )
        q = (
            stream.writeStream.format("parquet")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: watermark advances to 12:00 - 1h = 11:00, closing the 10:00
    # window (emitted with the two on-time events)
    run_available()
    # run 2: a LATE event at 10:05 arrives after the 10:00 window closed
    pd.DataFrame(
        {
            "event_id": [4],
            "ts": pd.to_datetime(["2024-01-01 10:05:00"]),
            "user_id": [1],
            "event_type": ["a"],
            "value": [100.0],
            "props": ["{}"],
        }
    ).to_parquet(d / "b2.parquet", coerce_timestamps="us")
    run_available()
    got = {r.ws: (r.n, r.s) for r in spark.read.parquet(out).collect()}
    ten = 1704103200  # 2024-01-01 10:00:00 UTC
    # the 10:00 window closed with exactly the two on-time events; the
    # late 100.0 never appears anywhere
    assert got.get(ten) == (2, 2.0), got
    assert all(abs(s - 100.0) > 1e-9 and s < 100 for _, s in got.values())


def test_stream_stream_interval_join_matches_batch(spark):
    stream_l = ops.read_events_stream(spark, SF_DIR)
    stream_r = ops.read_events_stream(spark, SF_DIR)
    joined = ops.stream_stream_interval_join(stream_l, stream_r)
    name = _run_stream(joined, mode="append")
    got = sorted(
        (r.l_event_id, r.r_event_id) for r in spark.table(name).collect()
    )
    ev = load_table(spark, SF_DIR, "events")
    batch = ops.stream_stream_interval_join(ev, ev)
    want = sorted((r.l_event_id, r.r_event_id) for r in batch.collect())
    assert got == want and len(want) > 0


def test_stream_stream_interval_join_left_outer(spark):
    """LEFT OUTER stream-stream interval join: unmatched left rows are
    held in state and emitted as NULL-padded rows once the watermark
    passes their join window — under availableNow the final watermark
    advance flushes them, so the stream result must equal batch."""
    import pyspark.sql.functions as F

    stream_l = ops.read_events_stream(spark, SF_DIR)
    stream_r = ops.read_events_stream(spark, SF_DIR)
    joined = ops.stream_stream_interval_join(
        stream_l, stream_r, how="left_outer"
    )
    name = _run_stream(joined, mode="append")
    got = sorted(
        (r.l_event_id, r.r_event_id) for r in spark.table(name).collect()
    )

    ev = load_table(spark, SF_DIR, "events")
    batch_rows = ops.stream_stream_interval_join(
        ev, ev, how="left_outer"
    ).collect()
    want = sorted((r.l_event_id, r.r_event_id) for r in batch_rows)
    # Streaming CAN ONLY emit a NULL-padded row once the watermark seals
    # its join window; left rows within (watermark + lookback) of the
    # stream's end stay buffered at termination — correct bounded-state
    # semantics, not data loss. So: matched pairs must agree exactly,
    # every emitted null row must be a true batch null row, and the
    # sealed nulls (older than the conservative seal line) must all have
    # been emitted.
    got_matched = [(a, b) for a, b in got if b is not None]
    want_matched = [(a, b) for a, b in want if b is not None]
    assert got_matched == want_matched
    got_nulls = {a for a, b in got if b is None}
    want_nulls = {r.l_event_id for r in batch_rows if r.r_event_id is None}
    assert got_nulls <= want_nulls
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    sealed = {
        r.l_event_id
        for r in batch_rows
        if r.r_event_id is None
        and (max_ts - r.l_ts).total_seconds() > (30 + 10) * 60 + 60
    }
    assert sealed <= got_nulls and got_nulls, (len(sealed), len(got_nulls))


def test_stream_stream_interval_join_rejects_unbounded_outer(spark):
    """right/full outer would hold unbounded right-side state under the
    one-sided interval condition — the operator fails fast instead."""
    ev = load_table(spark, SF_DIR, "events")
    with pytest.raises(ValueError, match="left_outer"):
        ops.stream_stream_interval_join(ev, ev, how="full_outer")


def test_stream_static_enrich_matches_batch(spark):
    dim = load_table(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    stream = ops.read_events_stream(spark, SF_DIR)
    key = F.col("user_id") % 25
    enriched = (
        ops.stream_static_enrich(stream, dim, key_expr=key, dim_key="n_nationkey")
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    name = _run_stream(enriched, mode="complete")
    got = {(r.n_name, r.n_events) for r in spark.table(name).collect()}
    batch = (
        ops.stream_static_enrich(
            load_table(spark, SF_DIR, "events"), dim,
            key_expr=key, dim_key="n_nationkey",
        )
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    want = {(r.n_name, r.n_events) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_stream_static_enrich_no_stream_side_shuffle(spark):
    dim = load_table(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    ev = load_table(spark, SF_DIR, "events")
    plan = (
        ops.stream_static_enrich(
            ev, dim, key_expr=F.col("user_id") % 25, dim_key="n_nationkey"
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_stream_dedup_replay_restores_stream(spark):
    # at-least-once replay: two stream readers over the same feed,
    # unioned, deduped on event_id -> exactly the original event count
    s1 = ops.read_events_stream(spark, SF_DIR)
    s2 = ops.read_events_stream(spark, SF_DIR)
    replayed = s1.unionByName(s2)
    deduped = ops.dedup_within_watermark(replayed, ["event_id"], watermark="30 days")
    name = _run_stream(deduped.select("event_id"), mode="append")
    got = spark.table(name)
    want = load_table(spark, SF_DIR, "events").count()
    assert got.count() == want
    assert got.distinct().count() == want


def test_streaming_upsert_then_compaction(spark, tmp_path):
    """Operational pipeline: micro-batch upserts fragment the store;
    compaction repacks it without losing the upsert semantics."""
    from terra_bonobo_nodes_spark.sinks.compact import (
        compact_parquet_dir,
        parquet_file_stats,
    )

    tgt = str(tmp_path / "store")
    stream = ops.read_events_stream(spark, SF_DIR).select(
        F.col("event_id").alias("identifier"), "event_type", "value"
    )
    q = (
        stream.writeStream.foreachBatch(ops.upsert_foreach_batch(tgt, "identifier"))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    n_rows = spark.read.parquet(tgt).count()
    want = load_table(spark, SF_DIR, "events").count()
    assert n_rows == want
    n_before, total = parquet_file_stats(tgt)
    n_after = compact_parquet_dir(spark, tgt, target_bytes=max(total, 1), min_files=2)
    if n_after != -1:
        assert n_after < n_before
    df = spark.read.parquet(tgt)
    assert df.count() == want
    assert df.select("identifier").distinct().count() == want


def test_stream_static_enrich_requires_key_expr(spark):
    from terra_bonobo_nodes_spark.streaming import ops

    ev = spark.createDataFrame([(1, 3)], "event_id long, user_id long")
    dim = spark.createDataFrame([(3, "x")], "k int, name string")
    with pytest.raises(TypeError):
        ops.stream_static_enrich(ev, dim)  # no default key any more
    with pytest.raises(ValueError, match="key_expr is required"):
        ops.stream_static_enrich(ev, dim, key_expr=None, dim_key="k")
    got = ops.stream_static_enrich(
        ev, dim, key_expr=F.col("user_id"), dim_key="k"
    ).collect()
    assert len(got) == 1 and got[0]["name"] == "x"
