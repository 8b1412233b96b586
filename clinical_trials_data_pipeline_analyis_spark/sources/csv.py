"""CSV ingestion (bronze layer sources).

Reproduces the reference's ``COPY ... WITH (FORMAT csv, DELIMITER '|',
HEADER true)`` ingest (``aact_bronze_layer.sql:93-99`` and siblings) and the
comma-delimited mapping-spreadsheet loads (``aact_bronze_layer.sql:144-150,
224-230``) as schema-on-write Spark reads: explicit StructType, never
``inferSchema``, PERMISSIVE mode.

Malformed values are neither rejected nor counted. No corrupt-record
column is configured, so a field that does not parse under its declared
type loads as NULL and the row is kept: ``NCT2|notanint|2020-13-45`` reads as
``nct_id='NCT2'`` with NULL ``enrollment`` and NULL ``start_date``. Silver
then imputes those NULLs like any other missing value. Quarantining and
counting such rows is an open item in ROADMAP.md (item 4).

The scan is NOT splittable: ``read_pipe_csv`` sets ``multiLine=true``
because AACT free-text columns carry quoted newlines, and Spark reads a
multi-line CSV file as one task however large it is, so each extract is a
single scan task. No shuffle occurs until a downstream wide operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_pipe_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    sep: str = "|",
    header: bool = True,
) -> DataFrame:
    """Read a pipe-delimited AACT extract under an explicit schema."""
    return (
        spark.read.schema(schema)
        .options(
            sep=sep,
            header=str(header).lower(),
            mode="PERMISSIVE",
            # AACT free-text columns contain quoted newlines and quotes.
            quote='"',
            escape='"',
            multiLine="true",
            dateFormat="yyyy-MM-dd",
            timestampFormat="yyyy-MM-dd HH:mm:ss[.SSSSSS]",
        )
        .csv(path)
    )


def read_mapping_csv(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """Read a curated comma-delimited mapping spreadsheet (small lookup).

    Downstream joins should wrap the result in ``F.broadcast`` — mapping
    tables are a few thousand rows and must never shuffle the big side.
    """
    return read_pipe_csv(spark, path, schema, sep=",")
