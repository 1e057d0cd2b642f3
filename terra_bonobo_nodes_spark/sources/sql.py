"""SQL extraction (``SQLExtract``, ``sql.py:7-38``).

The reference runs raw SQL against PostgreSQL and yields dict rows with
Decimal values coerced to float (``sql.py:33-35``). Here the query runs
on the engine itself (``spark.sql``) or a JDBC source; decimal coercion
is applied uniformly so downstream arithmetic matches the reference's
float semantics.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType


def decimals_to_double(df: DataFrame) -> DataFrame:
    """The reference's Decimal -> float coercion (``sql.py:33-35``)."""
    casts = {
        f.name: F.col(f.name).cast("double")
        for f in df.schema.fields
        if isinstance(f.dataType, DecimalType)
    }
    return df.withColumns(casts) if casts else df


def sql_extract(
    spark: SparkSession, query: str, identifier: str | None = None
) -> DataFrame:
    """Run SQL, coerce decimals, optionally project an identifier column
    (the reference's ``id`` option picks the identifier from the row)."""
    df = decimals_to_double(spark.sql(query))
    if identifier:
        df = df.withColumn("identifier", F.col(identifier).cast("string"))
    return df


@dataclass(frozen=True)
class JDBCConf:
    """Live-database scan for S3/S4: :meth:`read` is the only path that
    reaches a database. ``sql_extract`` takes no conf and always runs
    on the engine itself (the registered queries read parquet
    stand-ins through it); :meth:`read` returns the same coerced
    DataFrame contract from a JDBC source.

    Option mapping onto ``spark.read.format("jdbc")``, mirroring the
    reference's paginated ``ExtractFeatures`` scan
    (``terra.py:177-211``): the LIMIT/OFFSET pagination over an ordered
    queryset becomes ``partitionColumn`` + ``numPartitions`` +
    ``lowerBound/upperBound`` (Spark derives one bounded predicate per
    partition — the pagination IS the partitioning, executed in
    parallel instead of serially; the query routes through ``dbtable``
    as a derived table because Spark rejects ``query`` together with
    ``partitionColumn``); the reference's ``batch_size=1000``
    row window (``terra.py:194``) maps to ``fetchsize`` (rows per
    database round-trip within a partition). Extra ``options`` pass
    through verbatim (driver, user, sessionInitStatement, ...).
    """

    url: str = "jdbc:postgresql://localhost:5432/terra"
    partition_column: str | None = "id"
    num_partitions: int = 8
    lower_bound: int = 0
    upper_bound: int = 1_000_000
    fetchsize: int = 1000  # ExtractFeatures batch_size, terra.py:194
    options: dict[str, str] = field(default_factory=dict)

    def reader_options(self, query: str) -> dict[str, str]:
        opts = {
            "url": self.url,
            "fetchsize": str(self.fetchsize),
            **self.options,
        }
        if self.partition_column is not None:
            # Spark's JDBC source REJECTS 'query' together with
            # 'partitionColumn' (verified: IllegalArgumentException
            # before any connection) — a partitioned scan must go
            # through 'dbtable' with the query as a derived table.
            opts.update(
                dbtable=f"({query}) AS tbns_sub",
                partitionColumn=self.partition_column,
                numPartitions=str(self.num_partitions),
                lowerBound=str(self.lower_bound),
                upperBound=str(self.upper_bound),
            )
        else:
            opts["query"] = query
        return opts

    def read(self, spark: SparkSession, query: str) -> DataFrame:
        """Live-DB scan through the option map above, with the same
        Decimal->float coercion contract as ``sql_extract``."""
        reader = spark.read.format("jdbc")
        for k, v in self.reader_options(query).items():
            reader = reader.option(k, v)
        return decimals_to_double(reader.load())
