"""Parquet IO helpers (medallion layer persistence + driver testdata).

The reference's DROP + CREATE TABLE AS idempotent-refresh pattern
(``aact_silver_layer.sql:8-13``) maps to ``mode("overwrite")`` writes; at
cluster scale a partitioned table with
``spark.sql.sources.partitionOverwriteMode=dynamic`` replaces only the
touched partitions instead of the whole table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: tables present in every driver testdata scale-factor directory
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table (``<sf_dir>/<name>.parquet``)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    names = names or TESTDATA_TABLES
    return {n: read_table(spark, sf_dir, n) for n in names}


def write_table(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Overwrite-write a layer table.

    ``partition_by`` enables partition pruning for downstream readers.
    """
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def overwrite_partitions(
    df: DataFrame, path: str, partition_by: list[str]
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present
    in ``df``, leaving every other partition's files untouched.

    This is the 100 TB operational refresh shape (SURVEY §4): the
    reference refreshes by DROP+CTAS (``aact_silver_layer.sql:8-9``),
    which at scale means rewriting the whole table to update one day's
    data. With ``partitionOverwriteMode=dynamic`` an incremental run
    recomputes just the touched partitions (e.g. the start-years new
    trials landed in) and swaps them in atomically per partition —
    unchanged partitions are never read or written.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )

