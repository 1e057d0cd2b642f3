"""GeoJSON FeatureCollection ingestion (``GeojsonReader``, ``common.py:70-103``).

A FeatureCollection document (one JSON string per row) explodes into one
row per feature: string ``feature_id``, ``properties`` map, WKB ``geom``.
CRS is validated against the reference's allow-list (``common.py:83-86``):
a disallowed CRS raises, matching the reference's error contract.

Geometry coordinates are heterogeneous JSON (depth varies by type), so
the parse runs in ``mapInPandas`` — one Python hop per batch, same cost
class as the geometry kernel the rows feed into anyway. Path-based bulk
ingestion of newline-delimited GeoJSON features can use ``spark.read.json``
+ SQL ``ST_GeomFromGeoJSON`` (``geo.kernels.register_st_sql``) instead.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from terra_bonobo_nodes_spark.geo import wkb as W

ALLOWED_CRS = ("urn:ogc:def:crs:OGC:1.3:CRS84", "EPSG:4326")

OUT_SCHEMA = (
    "feature_id STRING, properties MAP<STRING, STRING>, geom BINARY"
)


def geojson_reader(
    df: DataFrame,
    content_col: str = "content",
    allowed_crs: tuple[str, ...] = ALLOWED_CRS,
) -> DataFrame:
    """Explode FeatureCollection strings into (feature_id, properties, geom)."""

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"feature_id": [], "properties": [], "geom": []}
            for doc in pdf[content_col]:
                if doc is None or not doc.strip():
                    continue
                obj = json.loads(doc)
                crs = (
                    obj.get("crs", {}).get("properties", {}).get("name")
                    if isinstance(obj.get("crs"), dict)
                    else None
                )
                if crs is not None and crs not in allowed_crs:
                    raise ValueError(f"GeoJSON CRS not allowed: {crs!r}")
                for feat in obj.get("features", []):
                    props = feat.get("properties") or {}
                    out["feature_id"].append(
                        None if feat.get("id") is None else str(feat["id"])
                    )
                    out["properties"].append(
                        {str(k): None if v is None else str(v) for k, v in props.items()}
                    )
                    geom = feat.get("geometry")
                    out["geom"].append(
                        None if geom is None else W.write_wkb(W.from_geojson(geom))
                    )
            # object dtype keeps empty batches Arrow-convertible to map/binary
            yield pd.DataFrame(
                {k: pd.Series(v, dtype="object") for k, v in out.items()}
            )

    return df.mapInPandas(explode, OUT_SCHEMA)
