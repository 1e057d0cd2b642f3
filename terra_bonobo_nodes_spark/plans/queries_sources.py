"""Correctness queries: sources, sinks, enrichment (SURVEY §2.1/2.2/2.8).

Round-trip style: each query CONSTRUCTS the ingest payload from a
parquet table inside the plan (CSV text, GeoJSON documents, zip bytes),
runs the real source operator on it, and must recover the original rows
— so the oracle is simply the original table. Enrichment operators run
against deterministic fake clients whose responses have closed-form SQL
equivalents (the reference's mock strategy, ``test_terra.py:208-217``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.geo import kernels as K
from terra_bonobo_nodes_spark.operators.enrichment import (
    isochrone_calculation,
    manhattan_fake_client_factory,
    square_isochrone_client_factory,
    transit_time_one_to_many,
    transit_time_one_to_one,
)
from terra_bonobo_nodes_spark.plans.registry import register
from terra_bonobo_nodes_spark.sources.archive import zip_reader
from terra_bonobo_nodes_spark.sources.csv import csv_documents_to_rows
from terra_bonobo_nodes_spark.sources.geojson import geojson_reader
from terra_bonobo_nodes_spark.sources.sql import sql_extract
from terra_bonobo_nodes_spark.tables import load_table


# --- S1: CSV document parsing -----------------------------------------------


@register(
    "s1_csv_document_roundtrip",
    oracle="""
SELECT CAST(c_custkey AS VARCHAR) AS c_custkey, c_name, c_mktsegment
FROM customer
""",
    tags=("S1",),
)
def s1_csv_document_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer -> one CSV document per nation -> parse back to all-string
    rows. Exercises header handling + line explosion + from_csv."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_custkey", "c_name", "c_mktsegment"
    )
    line = F.concat_ws(
        ",", F.col("c_custkey").cast("string"), F.col("c_name"), F.col("c_mktsegment")
    )
    docs = (
        cust.withColumn("_line", line)
        .groupBy("c_nationkey")
        .agg(
            F.concat_ws(
                "\n",
                F.lit("c_custkey,c_name,c_mktsegment"),
                F.concat_ws("\n", F.sort_array(F.collect_list("_line"))),
            ).alias("content")
        )
    )
    return csv_documents_to_rows(
        docs, "content", header=["c_custkey", "c_name", "c_mktsegment"]
    )


# --- S2: GeoJSON FeatureCollection ------------------------------------------


@register(
    "s2_geojson_reader_roundtrip",
    oracle="""
SELECT CAST(event_id AS VARCHAR) AS feature_id, event_type,
       ((value % 360) - 180) AS gx, ((value % 170) - 85) AS gy
FROM events
""",
    tags=("S2",),
)
def s2_geojson_reader_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> FeatureCollection documents (one per event_type) ->
    geojson_reader explode -> recover ids, properties, coordinates.
    Parsed SQL text (``sqltext`` says why), with only the kernel's call
    as a Column."""
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_id",
        "event_type",
        "(value % 360) - 180 AS x",
        "(value % 170) - 85 AS y",
    )
    feature = (
        """concat('{"type":"Feature","id":"', CAST(event_id AS STRING), """
        """'","geometry":{"type":"Point","coordinates":[', CAST(x AS STRING), """
        """',', CAST(y AS STRING), ']},"properties":{"event_type":"', """
        """event_type, '"}}')"""
    )
    collection = (
        """concat('{"type":"FeatureCollection","crs":{"type":"name",'"""
        """ '"properties":{"name":"EPSG:4326"}},"features":[', """
        """concat_ws(',', collect_list(_f)), ']}') AS content"""
    )
    docs = (
        ev.withColumn("_f", F.expr(feature))
        .groupBy("event_type")
        .agg(F.expr(collection))
    )
    feats = geojson_reader(docs, "content")
    xy = K.st_xy(F.expr("geom"))
    return feats.select(
        F.expr("feature_id"),
        F.expr("properties['event_type'] AS event_type"),
        xy["x"].alias("gx"),
        xy["y"].alias("gy"),
    )


# --- S8: zip entries ---------------------------------------------------------


@register(
    "s8_zip_reader_roundtrip",
    oracle="SELECT doc_id, text FROM documents",
    tags=("S8",),
)
def s8_zip_reader_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> one zip archive per source (entries {doc_id}.txt) ->
    zip_reader explode -> recover doc_id + text."""
    import io
    import zipfile

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("source", "doc_id", "text")

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            for _, row in pdf.sort_values("doc_id").iterrows():
                zf.writestr(f"{row.doc_id}.txt", row.text)
        return pd.DataFrame({"content": [buf.getvalue()]})

    zips = docs.groupBy("source").applyInPandas(pack, "content BINARY")
    entries = zip_reader(zips, "content")
    return entries.select(
        F.regexp_replace("name", r"\.txt$", "").cast("long").alias("doc_id"),
        F.decode(F.col("content"), "UTF-8").alias("text"),
    )


# --- S3: SQL extraction with decimal coercion --------------------------------


@register(
    "s3_sql_extract_decimals",
    oracle="""
SELECT CAST(o_orderkey AS VARCHAR) AS identifier, o_orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS price
FROM orders WHERE o_orderstatus = 'F'
""",
    tags=("S3", "S4"),
)
def s3_sql_extract_decimals(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    df = sql_extract(
        spark,
        """
        SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,4)) AS price
        FROM orders_v WHERE o_orderstatus = 'F'
        """,
        identifier="o_orderkey",
    )
    return df.select("identifier", "o_orderkey", "price")


# --- E1: isochrone enrichment (deterministic fake client) --------------------


@register(
    "e1_isochrone_calculation",
    oracle="""
SELECT CAST(event_id AS VARCHAR) AS event_id, b.bucket,
       CAST((b.bucket + 1) * (b.bucket + 1) AS DOUBLE) AS iso_area
FROM events CROSS JOIN (VALUES (0), (1), (2)) b(bucket)
""",
    tags=("E1",),
)
def e1_isochrone_calculation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fake isochrone service: concentric squares, half-side 0.5*(b+1)
    -> area (b+1)^2. Explode contract + polygon plumbing are real."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        ((F.col("value") % 360) - 180).alias("x"),
        ((F.col("value") % 170) - 85).alias("y"),
    )
    iso = isochrone_calculation(
        ev,
        square_isochrone_client_factory(size_per_bucket=0.5, buckets=3),
        params={"buckets": 3},
        keep_cols=["event_id"],
    )
    return iso.select(
        "event_id", "bucket", F.round(K.st_area("geom"), 6).alias("iso_area")
    )


# --- E2/E3: transit-time matrix (deterministic fake client) ------------------


@register(
    "e2_transit_time_one_to_many",
    oracle="""
SELECT c_custkey,
       (abs(c_acctbal % 100.0) + abs(CAST(c_custkey % 100 AS DOUBLE))) AS t00,
       (abs(c_acctbal % 100.0) + abs(CAST(c_custkey % 100 AS DOUBLE))) * 2.0 AS t01,
       (abs((c_acctbal % 100.0) - 10.0) + abs(CAST(c_custkey % 100 AS DOUBLE) - 10.0))
         AS t10,
       (abs((c_acctbal % 100.0) - 10.0) + abs(CAST(c_custkey % 100 AS DOUBLE) - 10.0))
         * 2.0 AS t11,
       (abs(c_acctbal % 100.0) + abs(CAST(c_custkey % 100 AS DOUBLE))) AS times_one
FROM customer
""",
    tags=("E2", "E3"),
)
def e2_transit_time_one_to_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two target points (0,0) and (10,10), two vehicles (car, bike=2x);
    fake time = manhattan distance * vehicle factor. Round-12 merge of
    the retired e3_transit_time_one_to_one row (same customer grain):
    ``times_one`` runs the actual one-to-one operator — a single-point
    car-only matrix collapsed to a scalar by transit_time_one_to_one —
    so both E2 and E3 keep driver verification in one row."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_acctbal") % 100.0).alias("x"),
        (F.col("c_custkey") % 100).cast("double").alias("y"),
    )
    pts = cust.withColumn(
        "points",
        F.array(
            F.array(F.lit(0.0), F.lit(0.0)), F.array(F.lit(10.0), F.lit(10.0))
        ),
    )
    timed = transit_time_one_to_many(
        pts, manhattan_fake_client_factory(), vehicles=("car", "bike")
    )
    t = F.col("times")
    many = timed.select(
        "c_custkey",
        F.element_at(F.element_at(t, 1), 1).alias("t00"),
        F.element_at(F.element_at(t, 1), 2).alias("t01"),
        F.element_at(F.element_at(t, 2), 1).alias("t10"),
        F.element_at(F.element_at(t, 2), 2).alias("t11"),
    )
    pts1 = cust.withColumn("points", F.array(F.array(F.lit(0.0), F.lit(0.0))))
    one = transit_time_one_to_one(
        transit_time_one_to_many(
            pts1, manhattan_fake_client_factory(), vehicles=("car",)
        )
    ).select("c_custkey", F.col("times").alias("times_one"))
    return many.join(one, "c_custkey")


# --- S5/K2: document-index sink + scroll-scan round-trip ---------------------


@register(
    "s5_k2_es_roundtrip",
    oracle="""
SELECT CAST(p_partkey AS VARCHAR) AS _id, CAST(p_partkey AS VARCHAR) AS _feature_id,
       p_name, p_brand, p_retailprice
FROM part
""",
    tags=("S5", "K2"),
)
def s5_k2_es_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part -> bulk-index into the keyed document store (LoadInES
    stand-in: _id/_feature_id from the identifier, elasticsearch.py:
    90-98) -> scroll-scan it back (ESExtract) -> must recover every
    document."""
    import hashlib
    import tempfile

    from terra_bonobo_nodes_spark.sinks.es import es_extract, load_in_es

    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("identifier"), "p_name", "p_brand", "p_retailprice"
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = f"{tempfile.gettempdir()}/tbns_es_{tag}"
    load_in_es(part, root, "parts")
    return es_extract(spark, root, "parts")


@register(
    "s9_jsonl_roundtrip",
    oracle="""
SELECT p_partkey, p_name, p_size
FROM part
""",
    tags=("S9", "jsonl"),
)
def s9_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part -> one JSONL document per brand (one JSON object per line,
    the interchange shape every text corpus ships in) ->
    ``jsonl_documents_to_rows`` explode+from_json -> recover the typed
    rows exactly. Line assembly and parsing both stay JVM-side."""
    from terra_bonobo_nodes_spark.sources.jsonl import jsonl_documents_to_rows

    part = load_table(spark, sf_dir, "part").select(
        "p_brand", "p_partkey", "p_name", "p_size"
    )
    line = F.to_json(F.struct("p_partkey", "p_name", "p_size"))
    docs = (
        part.withColumn("_line", line)
        .groupBy("p_brand")
        .agg(F.concat_ws("\n", F.sort_array(F.collect_list("_line"))).alias("content"))
    )
    return jsonl_documents_to_rows(
        docs, "content", "p_partkey BIGINT, p_name STRING, p_size INT"
    )


@register(
    "s10_scroll_bulk_roundtrip",
    oracle="""
SELECT doc_id, lang, n_chars
FROM documents
WHERE doc_id >= 100 AND doc_id < 300
""",
    tags=("S4", "S5", "K2", "datasource"),
)
def s10_scroll_bulk_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end driver proof for the Spark 4 Python DataSource trilogy
    (``sources/scroll.py``): documents -> ``tbns_bulk`` two-phase-commit
    bulk writer (staging files + manifest publish, the K2 LoadInES
    window contract, elasticsearch.py:62-98) -> the committed manifest
    files become scroll pages -> ``tbns_scroll`` paginated reader scans
    them back, one partition per page, with a doc_id range predicate
    the reader serves itself when Python-source filter pushdown is on
    (and that Spark applies post-scan when it is off — correct either
    way, which is what the oracle certifies; the pushdown-consumed plan
    shape is pinned by tests/test_datasource.py).

    The bridge step (committed bulk files renamed to page files) is the
    point, not a shortcut: the reader must see EXACTLY the committed
    set — a failed attempt's staging leftovers must never surface."""
    import hashlib
    import json as _json
    import os
    import shutil
    import tempfile

    from terra_bonobo_nodes_spark.sources.scroll import (
        BulkIndexDataSource,
        ScrollDataSource,
    )

    spark.dataSource.register(BulkIndexDataSource)
    spark.dataSource.register(ScrollDataSource)
    # Spark HARD-FAILS a pushFilters-implementing reader when this conf
    # is off (DATA_SOURCE_PUSHDOWN_DISABLED) — it is a runtime SQL conf,
    # so enable it here for sessions (like the driver's vanilla one)
    # that didn't start with it; session.get_spark sets it at build time
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .where(F.col("doc_id") < 300)
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = f"{tempfile.gettempdir()}/tbns_s10_{tag}"
    bulk = os.path.join(root, "bulk")
    (
        docs.write.format("tbns_bulk")
        .mode("overwrite")
        .option("path", bulk)
        .option("window", "64")
        .save()
    )
    # bridge: committed manifest files -> scroll pages (driver-side
    # metadata op over a handful of file names, no data movement)
    with open(os.path.join(bulk, "_manifest.json"), encoding="utf-8") as fh:
        manifest = _json.load(fh)
    pages = os.path.join(root, "pages")
    if os.path.isdir(pages):
        shutil.rmtree(pages)
    os.makedirs(pages)
    for i, name in enumerate(manifest["files"]):
        shutil.copy(
            os.path.join(bulk, "_staging", name),
            os.path.join(pages, f"page-{i:05d}.json"),
        )
    return (
        spark.read.format("tbns_scroll")
        .schema("doc_id BIGINT, lang STRING, n_chars BIGINT")
        .option("path", pages)
        .option("id_col", "doc_id")
        .load()
        .where(F.col("doc_id") >= 100)
    )


@register(
    "s11_xml_document_roundtrip",
    oracle="""
SELECT doc_id, text AS body, lang FROM documents
""",
    tags=("S11", "xml"),
)
def s11_xml_document_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> one XML document per source, each record's body
    wrapped in CDATA, plus a commented-out phantom record per document
    -> ``xml_documents_to_rows`` -> recover every (doc_id, text, lang)
    exactly. This driver-proves the lexical layer the round-11/12 fixes
    built (``sources/formats.py``): the commented record contributes
    ZERO rows (a phantom would break the row count), and CDATA-wrapped
    field content SURVIVES unwrap-and-escape verbatim through
    ``from_xml``'s entity decoding (a regression to wholesale CDATA
    stripping would NULL every body and break the value hash). The
    corpus text is trimmed/non-empty/']]>'-free by construction
    (TESTDATA.md), which is exactly the precondition CDATA wrapping
    needs."""
    from terra_bonobo_nodes_spark.sources.formats import xml_documents_to_rows

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "text", "lang"
    )
    rec = F.concat(
        F.lit("<rec><id>"),
        F.col("doc_id").cast("string"),
        F.lit("</id><body><![CDATA["),
        F.col("text"),
        F.lit("]]></body><lang>"),
        F.col("lang"),
        F.lit("</lang></rec>"),
    )
    xml_docs = (
        docs.withColumn("_rec", rec)
        .groupBy("source")
        .agg(
            F.concat(
                F.lit(
                    "<export><!-- <rec><id>-1</id><body>phantom</body>"
                    "<lang>xx</lang></rec> -->"
                ),
                F.concat_ws("", F.sort_array(F.collect_list("_rec"))),
                F.lit("</export>"),
            ).alias("content")
        )
    )
    out = xml_documents_to_rows(
        xml_docs, "content", "rec", "id BIGINT, body STRING, lang STRING"
    )
    return out.select(F.col("id").alias("doc_id"), "body", "lang")


@register(
    "e4_osm_points_roundtrip",
    oracle="""
SELECT CAST(event_id AS VARCHAR) AS feature_id, event_type,
       ((value % 360) - 180) AS gx, ((value % 170) - 85) AS gy
FROM events
""",
    tags=("E4",),
)
def e4_osm_points_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> OSM XML documents (one per event_type, tagged
    ``<node>``s) -> ``osm_xml_to_geojson`` with the REAL in-process
    points-layer converter (``osm_points_geojson_runner`` — stdlib XML
    parse to GeoJSON on the executors via mapInPandas, round-12; the
    subprocess runner stays the path for line/polygon layers where GDAL
    exists) -> ``geojson_reader`` -> recover every event's id, tag, and
    coordinates exactly. Takes E4 from pytest-only to driver-verified:
    the fake-free chain is XML synthesis, conversion, and GeoJSON
    explode, with doubles round-tripping through two text formats
    (shortest-roundtrip repr both times). Mirrors s2's coordinate
    derivation so the oracle is the same events projection."""
    from terra_bonobo_nodes_spark.sources.osm import (
        osm_points_geojson_runner,
        osm_xml_to_geojson,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        ((F.col("value") % 360) - 180).alias("x"),
        ((F.col("value") % 170) - 85).alias("y"),
    )
    node = F.concat(
        F.lit('<node id="'),
        F.col("event_id").cast("string"),
        F.lit('" lat="'),
        F.col("y").cast("string"),
        F.lit('" lon="'),
        F.col("x").cast("string"),
        F.lit('"><tag k="event_type" v="'),
        F.col("event_type"),
        F.lit('"/></node>'),
    )
    xml_docs = (
        ev.withColumn("_n", node)
        .groupBy("event_type")
        .agg(
            F.concat(
                F.lit('<osm version="0.6">'),
                F.concat_ws("", F.sort_array(F.collect_list("_n"))),
                F.lit("</osm>"),
            ).alias("xml")
        )
    )
    docs = osm_xml_to_geojson(
        xml_docs, layer="points", runner=osm_points_geojson_runner
    )
    feats = geojson_reader(docs, "content")
    xy = K.st_xy("geom")
    return feats.select(
        "feature_id",
        F.col("properties").getItem("event_type").alias("event_type"),
        xy["x"].alias("gx"),
        xy["y"].alias("gy"),
    )


@register(
    "s6_overpass_http_roundtrip",
    oracle="""
SELECT CAST(event_id AS VARCHAR) AS feature_id, event_type,
       ((value % 360) - 180) AS gx, ((value % 170) - 85) AS gy
FROM events WHERE event_id < 2000
""",
    tags=("S6", "E4", "http"),
)
def s6_overpass_http_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OverpassExtract proven over a REAL socket (the s3_http/s5
    precedent): an events-derived OSM XML export is served by the
    in-process Overpass stand-in, ``overpass_extract`` POSTs the QL
    query through a real stdlib HTTP client and lands the response in a
    DataFrame, then the round-12 in-process points converter +
    geojson_reader recover every node exactly. The export collect is
    bounded scaffolding (the s3 JSONL-export precedent; S6's semantics
    are inherently one driver-sized response — the reference yields a
    single requests.post body, osm.py:14-39)."""
    import hashlib
    import os
    import tempfile

    from terra_bonobo_nodes_spark.sources.osm import (
        osm_points_geojson_runner,
        osm_xml_to_geojson,
        overpass_extract,
        serve_overpass_xml,
        urllib_http_post,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        ((F.col("value") % 360) - 180).alias("x"),
        ((F.col("value") % 170) - 85).alias("y"),
    ).where(F.col("event_id") < 2000)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"{tempfile.gettempdir()}/tbns_overpass_{tag}.xml"
    # ALWAYS rewrite (ADVICE_r12): the file persists across processes,
    # so an exists-check would serve stale XML if the testdata at this
    # sf_dir were ever regenerated; the export is bounded (<2000 rows)
    # and the tmp+os.replace publish keeps concurrent readers atomic.
    node = F.concat(
        F.lit('<node id="'),
        F.col("event_id").cast("string"),
        F.lit('" lat="'),
        F.col("y").cast("string"),
        F.lit('" lon="'),
        F.col("x").cast("string"),
        F.lit('"><tag k="event_type" v="'),
        F.col("event_type"),
        F.lit('"/></node>'),
    )
    body = "".join(
        r["_n"] for r in ev.select(node.alias("_n")).orderBy("event_id").collect()
    )
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(f'<osm version="0.6">{body}</osm>')
    os.replace(tmp, path)  # atomic publish, the s3 precedent
    endpoint = serve_overpass_xml(path)
    fetched = overpass_extract(
        spark,
        'node["event_type"](bbox);out;',
        urllib_http_post,
        endpoint=endpoint,
    )
    docs = osm_xml_to_geojson(
        fetched, layer="points", runner=osm_points_geojson_runner
    )
    feats = geojson_reader(docs, "content")
    xy = K.st_xy("geom")
    return feats.select(
        "feature_id",
        F.col("properties").getItem("event_type").alias("event_type"),
        xy["x"].alias("gx"),
        xy["y"].alias("gy"),
    )


@register(
    "e5_shapefile_points_roundtrip",
    oracle="""
SELECT CAST(event_id AS VARCHAR) AS event_id, event_type,
       ((value % 360) - 180) AS gx, ((value % 170) - 85) AS gy
FROM events
""",
    tags=("E5",),
)
def e5_shapefile_points_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZipShapefileToGeojson with a REAL codec end to end: events ->
    one zipped point shapefile per event_type (the round-12 from-spec
    .shp/.shx/.dbf writer packs on the EXECUTORS via applyInPandas, the
    s8 zip precedent) -> ``zip_shapefile_to_geojson`` with the
    in-process points runner (mapInPandas) -> ``geojson_reader`` ->
    exact recovery. Coordinates travel as binary little-endian doubles
    inside the archive — no text formatting in the geometry path — so
    the roundtrip is bit-exact by construction; attributes come back as
    DBF text, hence the VARCHAR event_id in the oracle."""
    import pandas as pd

    from terra_bonobo_nodes_spark.sources.shapefile import (
        zip_shapefile_to_geojson,
    )
    from terra_bonobo_nodes_spark.sources.shp_codec import (
        shapefile_points_geojson_runner,
        write_point_shapefile_zip,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        ((F.col("value") % 360) - 180).alias("x"),
        ((F.col("value") % 170) - 85).alias("y"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("event_id")
        z = write_point_shapefile_zip(
            [float(v) for v in pdf["x"]],
            [float(v) for v in pdf["y"]],
            {
                "event_id": [int(v) for v in pdf["event_id"]],
                "event_type": [str(v) for v in pdf["event_type"]],
            },
        )
        return pd.DataFrame({"content": [z]})

    zips = ev.groupBy("event_type").applyInPandas(pack, "content BINARY")
    docs = zip_shapefile_to_geojson(zips, runner=shapefile_points_geojson_runner)
    feats = geojson_reader(docs, "content")
    xy = K.st_xy("geom")
    return feats.select(
        F.col("properties").getItem("event_id").alias("event_id"),
        F.col("properties").getItem("event_type").alias("event_type"),
        xy["x"].alias("gx"),
        xy["y"].alias("gy"),
    )


@register(
    "s3_http_sql_pagination",
    oracle="""
SELECT s_suppkey, s_name, CAST(s_nationkey AS BIGINT) AS s_nationkey,
       round(s_acctbal, 2) AS bal
FROM supplier
WHERE s_suppkey > 2
""",
    tags=("S3", "S4", "datasource", "http"),
)
def s3_http_sql_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExtractFeatures' LIMIT/OFFSET pagination contract
    (``terra.py:177-211``) proven over a REAL network service
    (``sources/sql_http.py``): supplier is exported to a JSONL stand-in
    database (scaffolding — a bounded dim-table collect), served by the
    in-process paginated-SQL HTTP service, and scanned back through
    ``tbns_sql_http`` — one COUNT probe at planning, one executor GET
    per 64-row window, the s_suppkey bound pushed into both count and
    rows (bound chosen so even sf0.001's 10-supplier table keeps rows). The oracle reads the original table: the scan must recover
    the bounded queryset exactly."""
    import hashlib
    import os
    import tempfile

    from terra_bonobo_nodes_spark.sources.sql_http import (
        SqlHttpDataSource,
        serve_jsonl_table,
    )

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"{tempfile.gettempdir()}/tbns_sqlhttp_{tag}.jsonl"
    # ALWAYS rewrite, as s6 does: the file outlives the process, so an
    # exists-check would serve a stale export once the table at this
    # sf_dir is regenerated (the server re-reads the file per request)
    lines = "\n".join(
        _json_dumps_row(r) for r in sup.orderBy("s_suppkey").collect()
    )
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(lines)
    os.replace(tmp, path)  # atomic publish: readers never see a partial file
    base_url = serve_jsonl_table(path, "s_suppkey")
    spark.dataSource.register(SqlHttpDataSource)
    # the reader implements pushFilters, which HARD-FAILS under a
    # vanilla session (DATA_SOURCE_PUSHDOWN_DISABLED) — the driver's
    # harness session is vanilla, so enable it here (runtime-settable;
    # the s10 precedent)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    scanned = (
        spark.read.format("tbns_sql_http")
        .schema(
            "s_suppkey BIGINT, s_name STRING, s_nationkey BIGINT, s_acctbal DOUBLE"
        )
        .option("base_url", base_url)
        .option("id_col", "s_suppkey")
        .option("batch_size", "64")
        .load()
        .where(F.col("s_suppkey") > 2)
    )
    return scanned.select(
        "s_suppkey",
        "s_name",
        "s_nationkey",
        F.round("s_acctbal", 2).alias("bal"),
    )


def _json_dumps_row(row) -> str:
    import json as _json

    return _json.dumps(row.asDict())
