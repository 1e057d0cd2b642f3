"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
configs are the right defaults on a real cluster: AQE re-plans joins and
coalesces shuffle partitions at runtime, Arrow keeps the pandas-UDF
geometry kernel fast, and UTC pins timestamp semantics to match the
DuckDB oracle (duckdb timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "terra_bonobo_nodes_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # ~cores, not the 200 default: right-sizes every local shuffle.
        # On a 1000-executor cluster this would be set to ~2-3x total cores.
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.ts has shipped as TIMESTAMP(NANOS) in some testdata
        # generations; without this Spark rejects the footer outright
        # ([PARQUET_TYPE_ILLEGAL]). Set once at session build so table
        # loaders never have to mutate session config mid-query.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource predicate pushdown (sources/scroll.py)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # local[N] keeps every executor task inside the ONE driver JVM,
        # so the heap must be sized for N concurrent tasks' execution
        # memory plus cached/checkpointed state; 8g showed multi-second
        # GC spikes (isolated 2.4s queries reading 5s+ mid-bench, one
        # 45s outlier) that 16g removes (r17 A/B: headline bench total
        # -4s on identical code). On a real cluster executor memory is
        # provisioned per executor, not here; the env var still
        # overrides for constrained hosts.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Prefer shuffled-hash over sort-merge when a side's per-
        # partition build fits memory: the hash probe skips both sides'
        # sorts, and AQE rewrites a planned SMJ to SHJ at runtime when
        # every post-shuffle partition is under 64m (the broadcast
        # threshold's bounded per-task build). Results do not depend
        # on the join algorithm; both are SQL confs, so a deployment
        # can flip them back with spark.conf.set.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on Spark's Python workers.

    Pandas-UDF closures (the geometry kernel, multimodal decode)
    reference the package by name; workers spawned by the executor JVM
    don't inherit the driver's sys.path, so ship the package as a zip
    via addPyFile — exactly how the library deploys on a real cluster
    (--py-files). Idempotent per session."""
    if getattr(spark, "_tbns_pyfiles_added", False):
        return
    import tempfile
    import zipfile
    from pathlib import Path

    pkg_root = Path(__file__).resolve().parent.parent
    pkg = pkg_root / "terra_bonobo_nodes_spark"
    zpath = Path(tempfile.gettempdir()) / "terra_bonobo_nodes_spark_pyfiles.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        for py in sorted(pkg.rglob("*.py")):
            zf.write(py, py.relative_to(pkg_root))
    spark.sparkContext.addPyFile(str(zpath))
    spark._tbns_pyfiles_added = True
