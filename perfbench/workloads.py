"""The benchmark's named workloads: registered queries run as one closed loop.

Two workloads split the engine along the line its layers fall on:

- ``geo_ingest`` spends its time in Python across the Arrow boundary:
  geometry kernels inside spatial joins, source codecs, and feature-layer
  writes. Kernel, codec and sink changes show here.
- ``relational_llm`` runs mostly on the JVM: relational, streaming and
  llm curation queries whose cost is plan construction (py4j, eager
  executions), codegen, shuffle and scan. Its Python UDFs are llm
  kernels: text winnowing (llm_winnow_pairs) and the Arrow-batched
  cosine top-k of llm_novelty_scores. It has no geometry kernels, so geo
  kernel changes must read "no change" here.

Each list is sized so that one pass takes a few seconds on four cores.
That way a run fits a cold correctness pass plus several timed passes.
README.md gives the selection in full.
"""

from __future__ import annotations

WORKLOADS: dict[str, list[str]] = {
    "geo_ingest": [
        "j1_boolean_intersect",
        "s2_geojson_reader_roundtrip",
        "s12_warc_wet_roundtrip",
    ],
    "relational_llm": [
        "tpch_q1_pricing_summary",
        "star_join_revenue_by_region",
        "stream_window_agg_surface",
        "llm_winnow_pairs",
        "llm_novelty_scores",
    ],
}

# The GeoJSON round trip is upserted into a feature layer, keyed on each
# row's unique id, instead of going to the noop sink.
UPSERT_KEYS: dict[str, str] = {
    "s2_geojson_reader_roundtrip": "feature_id",
}
