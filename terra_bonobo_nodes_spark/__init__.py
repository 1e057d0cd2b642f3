"""terra_bonobo_nodes_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of
Terralego/terra-bonobo-nodes (a Bonobo ETL node library; see SURVEY.md),
re-expressed as idiomatic Spark: operators are DataFrame transform
functions compiled by Catalyst, geometry rides as WKB BinaryType columns
with Arrow-vectorized pandas-UDF kernels, the reference's per-row PostGIS
round-trips become real joins/aggregations, and its hand-rolled stream
state becomes window functions and grouped aggregates.

Layout
------
- ``session``    : tuned SparkSession builder (AQE on, UTC, Arrow on)
- ``tables``     : loaders for the driver's parquet star schema
- ``operators``  : record/relational/spatial/stateful operators (SURVEY §2)
- ``sources``    : CSV / GeoJSON / zip / binary / SQL scans (§2.1)
- ``sinks``      : upsert / retention / bulk-export sinks (§2.2)
- ``geo``        : WKB geometry kernel + ST-style column functions (§2.4)
- ``llm``        : large-scale training-data ops (dedup, ANN, text, multimodal)
- ``streaming``  : Structured Streaming capability extensions (§2.7)
- ``sqltext``    : identifier quoting for the parsed-SQL plan builders
"""

__version__ = "0.1.0"
