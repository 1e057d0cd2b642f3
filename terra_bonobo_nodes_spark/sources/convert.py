"""Shared distributed document-conversion plumbing for the ogr2ogr
sources (E4 ``osm_xml_to_geojson``, E5 ``zip_shapefile_to_geojson``).

The reference shells out once per document on a single node
(``osm.py:66-83``, ``shapefile.py:24-37``). The Spark-native shape of
"run a subprocess over every document" is ``mapInPandas``: each
executor core converts the documents of its partitions locally, so a
many-file ingest (thousands of OSM extracts / zipped shapefiles)
parallelizes across the cluster and NOTHING is materialized on the
driver. The injected ``runner`` travels to executors via cloudpickle —
the same injection seam as the reference's mocked ``subprocess.run``;
``ogr2ogr_runner`` builds the real one.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame

Runner = Callable[[list[str], bytes], bytes]


def convert_documents(
    df: DataFrame,
    payload_col: str,
    cmd: list[str],
    runner: Runner,
) -> DataFrame:
    """Run ``runner(cmd, payload) -> geojson_bytes`` over every document.

    Payloads stay on the executors: ``mapInPandas`` invokes the runner
    per document inside each Arrow batch, in the input's partition
    layout. A caller whose extracts clump in a few file splits
    repartitions ``df`` first.
    """
    src = df.select(payload_col)

    def convert(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            col = pdf[payload_col]
            yield pd.DataFrame(
                {"content": [runner(cmd, _as_bytes(p)).decode() for p in col]}
            )

    return src.mapInPandas(convert, "content string")


def ogr2ogr_runner(build_cmd: Callable[[str], list[str]], suffix: str) -> Runner:
    """The subprocess runner both conversions default to (GDAL required):
    write the payload to a temp file named ``*{suffix}`` (GDAL picks the
    input driver by extension), run ``build_cmd(temp_path)`` and return
    its stdout. A non-zero exit raises ``CalledProcessError``. The
    placeholder ``cmd`` that ``convert_documents`` passes is ignored:
    the real command needs the temp path."""

    def run(cmd: list[str], payload: bytes) -> bytes:
        import subprocess
        import tempfile

        with tempfile.NamedTemporaryFile(suffix=suffix) as tmp:
            tmp.write(payload)
            tmp.flush()
            return subprocess.run(
                build_cmd(tmp.name), capture_output=True, check=True
            ).stdout

    return run


def _as_bytes(payload) -> bytes:
    if isinstance(payload, (bytes, bytearray)):
        return bytes(payload)
    return str(payload).encode()
