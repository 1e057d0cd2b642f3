"""Zipped-Shapefile ingestion (``ZipShapefileToGeojson``, ``shapefile.py:11-50``).

Reference behavior: write zip bytes to a temp file, run ``ogr2ogr -t_srs
EPSG:4326 -f GeoJSON /vsizip/...``, yield the GeoJSON text. GDAL is not
in this environment, so the runner is injectable (tests fake it, as the
reference's tests mock ``subprocess.run``); command construction is real.
Output documents feed ``sources.geojson.geojson_reader``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from terra_bonobo_nodes_spark.sources.convert import convert_documents, ogr2ogr_runner


def build_shapefile_command(zip_path: str, target_srs: str = "EPSG:4326") -> list[str]:
    """``shapefile.py:24-37``'s exact conversion."""
    return [
        "ogr2ogr",
        "-t_srs",
        target_srs,
        "-f",
        "GeoJSON",
        "/vsistdout/",
        f"/vsizip/{zip_path}",
    ]


def zip_shapefile_to_geojson(
    df: DataFrame,
    content_col: str = "content",
    target_srs: str = "EPSG:4326",
    runner: Callable[[list[str], bytes], bytes] | None = None,
) -> DataFrame:
    """Convert zipped-shapefile payloads to GeoJSON document strings.

    Conversion runs on the executors (mapInPandas via
    ``convert.convert_documents``), so a directory of zipped shapefiles
    parallelizes across the cluster."""
    if runner is None:
        runner = ogr2ogr_runner(
            lambda src: build_shapefile_command(src, target_srs), ".zip"
        )
    cmd = build_shapefile_command("<payload>.zip", target_srs)
    return convert_documents(df, content_col, cmd, runner)
