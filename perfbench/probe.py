"""The host-load probe: a fixed reference query timed before every pass.

On a shared host the same code ran up to 1.8x slower from one period to
the next. The end-to-end times are divided by the probe time of their
pass (README.md, *Steadiness*), so that they follow the program rather
than the period. The probe does each kind of work the workloads do, and
none of it in the package:

- a hash aggregate over generated rows, compiled by whole-stage codegen:
  ``bench.py``'s JVM-only host-load anchor, at a tenth of its rows, as
  only the first-tier compiler runs;
- a plan of twelve chained column expressions, built through py4j and
  analysed, as query construction does;
- an Arrow-batched pandas UDF, in the Python workers.

Both heaps are collected first, so that neither the probe nor the pass
after it pays for the garbage of the pass before.
"""

import gc
import time

import pandas as pd
from pyspark.sql import functions as F

ROWS = 5_000_000
UDF_ROWS = 300_000


class Probe:
    def __init__(self, spark) -> None:
        # nested, so that it is pickled by value: the Python workers
        # cannot import this module
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        self.spark = spark
        self.udf = F.pandas_udf(plus_one, "long")

    def __call__(self) -> float:
        """Seconds the reference query took, after a collection."""
        gc.collect()
        self.spark.sparkContext._jvm.java.lang.System.gc()
        t0 = time.perf_counter()
        self.spark.range(ROWS).select(F.avg(F.xxhash64("id"))).collect()
        df = self.spark.range(10)
        for i in range(12):
            df = df.withColumn(f"c{i}", F.xxhash64("id", F.lit(i)) % 7)
        df.groupBy("c0").agg(F.sum("c1")).schema  # noqa: B018 - analysis only
        self.spark.range(UDF_ROWS).select(F.sum(self.udf("id"))).collect()
        return time.perf_counter() - t0
