"""Correctness queries: event-time windowing (streaming capability layer).

Each registered query runs the SAME operator function the streaming
tests drive through readStream — here in batch mode over the events
table, so the driver's DuckDB oracle can verify the windowing semantics
value-for-value (sliding-window expansion and session gap-merge
included, via UNION-ALL shifts and gaps-and-islands SQL respectively).

Conventions: window bounds exported as epoch seconds (BIGINT), float
sums decimal-accumulated (see queries_relational.dsum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.plans.registry import register
from terra_bonobo_nodes_spark.streaming.ops import (
    session_window_agg,
    sliding_window_agg,
    stream_stream_interval_join,
    tumbling_window_agg,
)
from terra_bonobo_nodes_spark.tables import load_table

DSUM_VALUE = "CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value"


# stream_window_agg_surface covers three aggregations in one registered
# row: tumbling windows per event_type, keyless sliding windows (event_type
# 'ALL') and the JSON props rollup (kind 'props'), unioned on one
# NULL-padded (kind, window_start, event_type) row shape. Each leg's
# aggregation is the unregistered component below, unchanged.

_WINDOW_SURFACE_2LEG_ORACLE = f"""
WITH t AS (
  SELECT 'tumbling' AS kind,
         CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
           AS window_start,
         event_type, count(*) AS n_events, {DSUM_VALUE}
  FROM events GROUP BY 2, 3
), expanded AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, value FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS ws,
         value
  FROM events
), s AS (
  SELECT 'sliding' AS kind, CAST(epoch(ws) AS BIGINT) AS window_start,
         'ALL' AS event_type, count(*) AS n_events, {DSUM_VALUE}
  FROM expanded GROUP BY 2
)
SELECT * FROM t UNION ALL SELECT * FROM s
"""

_PROPS_ROLLUP_ORACLE = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       count(*) AS n_events
FROM events
GROUP BY 1
"""


def stream_window_agg_2leg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h windows per event_type plus keyless 1h/30m sliding
    windows (every event expands into exactly duration/slide = 2
    windows, mirrored in SQL by the shifted-bucket UNION ALL), tagged
    by kind on one row shape."""
    ev = load_table(spark, sf_dir, "events")
    t = tumbling_window_agg(ev, duration="1 hour").selectExpr(
        "'tumbling' AS kind", "window_start", "event_type", "n_events", "sum_value"
    )
    s = sliding_window_agg(ev, duration="1 hour", slide="30 minutes").selectExpr(
        "'sliding' AS kind", "window_start", "'ALL' AS event_type", "n_events", "sum_value"
    )
    return t.unionAll(s)


@register(
    "stream_window_agg_surface",
    oracle=f"""
WITH _w AS ({_WINDOW_SURFACE_2LEG_ORACLE}),
_p AS ({_PROPS_ROLLUP_ORACLE})
SELECT _w.*, CAST(NULL AS BIGINT) AS sum_k FROM _w
UNION ALL
SELECT 'props' AS kind, CAST(NULL AS BIGINT) AS window_start,
       event_type, n_events, CAST(NULL AS DOUBLE) AS sum_value, sum_k
FROM _p
""",
    headline=True,
    tags=("streaming", "window", "json"),
)
def stream_window_agg_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time window surface + the dynamic-JSON props rollup on one
    union-tagged row shape. Zero new shuffles: the union sits above the
    three aggregations, each keyed as before. Built from parsed SQL down
    to the window operators."""
    w = stream_window_agg_2leg(spark, sf_dir).selectExpr("*", "CAST(NULL AS BIGINT) AS sum_k")
    p = stream_props_json_rollup(spark, sf_dir).selectExpr(
        "'props' AS kind",
        "CAST(NULL AS BIGINT) AS window_start",
        "event_type",
        "n_events",
        "CAST(NULL AS DOUBLE) AS sum_value",
        "sum_k",
    )
    return w.unionByName(p)


@register(
    "stream_session_window_agg",
    oracle=f"""
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL '1 hour'
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)
),
numbered AS (
  SELECT *, sum(new_session) OVER (
    PARTITION BY user_id ORDER BY ts, value
    ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
       CAST(floor(epoch(max(ts) + INTERVAL '1 hour')) AS BIGINT) AS session_end,
       count(*) AS n_events,
       {DSUM_VALUE}
FROM numbered
GROUP BY user_id, session_id
""",
    headline=True,
    tags=("streaming", "window"),
)
def stream_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with 1h gap: the oracle rebuilds Spark's
    gap-merge with gaps-and-islands SQL (new session when the gap is
    >= 1h, matching the half-open [start, last+gap) window)."""
    ev = load_table(spark, sf_dir, "events")
    return session_window_agg(ev, gap="1 hour")


@register(
    "stream_interval_join",
    oracle="""
WITH p AS (SELECT event_id, user_id, ts, value FROM events
           WHERE event_type = 'purchase'),
v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view')
SELECT p.event_id AS l_event_id,
       p.user_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS l_ts,
       v.event_id AS r_event_id,
       CAST(floor(epoch(v.ts)) AS BIGINT) AS r_ts,
       round(p.value, 4) AS l_value
FROM p JOIN v
  ON v.user_id = p.user_id
 AND v.ts <= p.ts
 AND v.ts >= p.ts - INTERVAL '10 minutes'
""",
    headline=True,
    tags=("streaming", "join"),
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the stream-stream attribution join
    (``streaming/ops.stream_stream_interval_join``): purchases joined to
    the same user's views in the preceding 10 minutes, oracled against
    DuckDB's exact theta join. The streaming path (watermarks + bounded
    interval state) runs the SAME operator — covered by
    tests/test_streaming.py batch/stream agreement."""
    ev = load_table(spark, sf_dir, "events")
    j = stream_stream_interval_join(ev, ev)
    return j.select(
        "l_event_id",
        "user_id",
        F.unix_timestamp("l_ts").alias("l_ts"),
        "r_event_id",
        F.unix_timestamp("r_ts").alias("r_ts"),
        F.round("l_value", 4).alias("l_value"),
    )


# the 'props' leg of stream_window_agg_surface
def stream_props_json_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic JSON props bag (the reference's JSONB properties column,
    SURVEY.md §1.2) aggregated via get_json_object — schemaless k
    extraction stays JVM-side."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("sum(CAST(get_json_object(props, '$.k') AS BIGINT)) AS sum_k"),
        F.expr("count(1) AS n_events"),
    )


@register(
    "stream_dedup_replay",
    oracle=f"""
SELECT event_type, count(*) AS n_events, {DSUM_VALUE}
FROM events
GROUP BY 1
""",
    tags=("streaming", "dedup"),
)
def stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once delivery recovery: the events feed replayed twice
    (UNION ALL with itself — every event delivered exactly 2x), pushed
    through ``dedup_within_watermark`` keyed on event_id, must restore
    the original stream exactly — verified by aggregating the deduped
    result against the pristine table. The streaming path
    (dropDuplicatesWithinWatermark, bounded seen-key state) runs the
    same operator, covered in tests/test_streaming.py."""
    from terra_bonobo_nodes_spark.streaming.ops import dedup_within_watermark

    ev = load_table(spark, sf_dir, "events")
    replayed = ev.unionByName(ev)
    deduped = dedup_within_watermark(replayed, ["event_id"], watermark="1 hour")
    return deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(20,6)")).cast("double").alias("sum_value"),
    )


@register(
    "stream_upsert_compaction_roundtrip",
    oracle="""
SELECT event_id AS identifier, event_type, round(value, 4) AS value
FROM events
""",
    tags=("streaming", "K1", "sink"),
)
def stream_upsert_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 under Structured Streaming, END TO END: the events feed
    delivered at-least-once (two stream readers unioned — every event
    arrives twice, split across micro-batches), upserted via the
    ``foreachBatch`` last-writer-wins sink (``streaming/ops.
    upsert_foreach_batch``, the reference's transactional window flush
    at terra.py:155-161), then the fragmented store is compacted
    (``sinks/compact.py`` staged swap) and read back. Idempotent upsert
    must make at-least-once delivery equal exactly-once: the store is
    byte-for-byte the pristine events projection. Duplicate deliveries
    carry identical payloads, so last-writer-wins is deterministic
    across any batch split."""
    import hashlib
    import os
    import shutil
    import tempfile

    from terra_bonobo_nodes_spark.sinks.compact import compact_parquet_dir
    from terra_bonobo_nodes_spark.streaming.ops import (
        read_events_stream,
        upsert_foreach_batch,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"tbns_k1_stream_{tag}")
    shutil.rmtree(base, ignore_errors=True)  # rerunnable: fresh store + ckpt
    tgt = os.path.join(base, "store")
    replayed = read_events_stream(spark, sf_dir).unionByName(
        read_events_stream(spark, sf_dir)
    )
    stream = replayed.select(
        F.col("event_id").alias("identifier"), "event_type", "value"
    )
    q = (
        stream.writeStream.foreachBatch(upsert_foreach_batch(tgt, "identifier"))
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    # awaitTermination(timeout) returns False WITHOUT raising on
    # timeout — compacting under a still-running stream would race the
    # staged-swap renames, so stop and fail loudly instead
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError(
            "stream_upsert_compaction_roundtrip: availableNow stream did "
            "not finish within 600s; refusing to compact a moving store"
        )
    # micro-batch upserts fragment the store; repack to ~1 file
    compact_parquet_dir(spark, tgt, min_files=2)
    df = spark.read.parquet(tgt)
    return df.select(
        "identifier", "event_type", F.round("value", 4).alias("value")
    )


@register(
    "stream_static_enrich",
    oracle=f"""
SELECT n.n_name, count(*) AS n_events, {DSUM_VALUE}
FROM events e JOIN nation n ON CAST(e.user_id % 25 AS INTEGER) = n.n_nationkey
GROUP BY 1
""",
    tags=("streaming", "join"),
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment
    (``streaming/ops.stream_static_enrich``): events pick up their
    nation dimension row map-side (zero stream shuffle, no state
    store), then roll up per nation. Streaming execution of the same
    operator is pinned by tests/test_streaming.py."""
    from terra_bonobo_nodes_spark.streaming import ops

    ev = load_table(spark, sf_dir, "events")
    dim = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = ops.stream_static_enrich(
        ev, dim, key_expr=F.col("user_id") % 25, dim_key="n_nationkey"
    )
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(20,6)")).cast("double").alias("sum_value"),
    )
