"""End-to-end medallion pipeline runner.

The operational equivalent of running the reference's three psql scripts
in order (``aact_bronze_layer.sql`` -> ``aact_silver_layer.sql`` ->
``aact_gold_layer.sql``): point it at the pipe-delimited AACT extracts +
mapping CSVs and it materializes bronze -> silver -> gold as parquet,
runs the data-quality gate, and writes the flagship opportunity_rank.

CLI:
    python -m clinical_trials_data_pipeline_analyis_spark.pipeline \
        --data-dir /path/to/aact_extracts --warehouse ./warehouse

Scale notes baked in:
- bronze ingest reads each extract under an explicit schema as ONE
  non-splittable task (``multiLine``: AACT free text has quoted newlines);
- silver writes are partitioned by stable low-cardinality keys so
  downstream reads prune (study_type for studies);
- every mapping join broadcasts; the only wide operators are the gold
  aggregations, which shuffle once on their own keys;
- quality gate failures raise before gold is written (fail-fast, like the
  reference's manual QA step, but enforced).
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .config import DEFAULT_CONFIG, PipelineConfig
from .plans import (
    bridge_trial_conditions,
    bridge_trial_interventions,
    bridge_trial_sponsors,
    dim_conditions,
    dim_dates,
    dim_interventions,
    dim_sponsors,
    dim_studies,
    fact_trials,
    opportunity_rank,
    silver_conditions,
    silver_interventions,
    silver_outcomes,
    silver_sponsors,
    silver_studies,
)
from .plans import quality
from .schemas import BRONZE_SCHEMAS
from .sources.csv import read_mapping_csv, read_pipe_csv
from .sources.parquet import overwrite_partitions, write_table

#: extract file name per bronze table (reference COPY statements,
#: aact_bronze_layer.sql:93-268)
EXTRACT_FILES = {
    "studies": "studies.txt",
    "sponsors": "sponsors.txt",
    "conditions": "conditions.txt",
    "interventions": "interventions.txt",
    "outcomes": "outcomes.txt",
}
MAPPING_FILES = {
    "sponsor_mapping": "sponsor_mapping.csv",
    "intervention_mapping": "intervention_mapping.csv",
}


def write_layer(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Overwrite-write ``df`` as the layer table at ``path`` and return
    the table read back under the schema ``df`` wrote. This run wrote
    the files, so their schema cannot have drifted, and a schema-less
    read would launch one inference job per table for nothing. Spark
    lays partition columns out after the data columns, so they move to
    the end of the read schema."""
    write_table(df, path, partition_by=partition_by)
    parts = partition_by or []
    schema = StructType(
        [f for f in df.schema if f.name not in parts]
        + [df.schema[c] for c in parts]
    )
    return spark.read.schema(schema).parquet(path)


def ingest_bronze(
    spark: SparkSession, data_dir: str, config: PipelineConfig
) -> dict[str, DataFrame]:
    """Bronze: CSV -> typed parquet (full refresh, like DROP+COPY)."""
    bronze: dict[str, DataFrame] = {}
    for table, filename in EXTRACT_FILES.items():
        df = read_pipe_csv(spark, f"{data_dir}/{filename}", BRONZE_SCHEMAS[table])
        bronze[table] = write_layer(spark, df, config.layer_path("bronze", table))
    for table, filename in MAPPING_FILES.items():
        df = read_mapping_csv(spark, f"{data_dir}/{filename}", BRONZE_SCHEMAS[table])
        bronze[table] = write_layer(spark, df, config.layer_path("bronze", table))
    return bronze


def build_silver(
    spark: SparkSession, bronze: dict[str, DataFrame], config: PipelineConfig
) -> dict[str, DataFrame]:
    silver = {
        "studies": silver_studies(bronze["studies"], config),
        "sponsors": silver_sponsors(bronze["sponsors"], bronze["sponsor_mapping"]),
        "conditions": silver_conditions(bronze["conditions"]),
        "interventions": silver_interventions(
            bronze["interventions"], bronze["intervention_mapping"]
        ),
        "outcomes": silver_outcomes(bronze["outcomes"]),
    }
    # studies partitioned by study_type: the opportunity query and most
    # analyses filter on it, so the partition prunes at scan time.
    partition_by = {"studies": ["study_type"]}
    return {
        name: write_layer(
            spark, df, config.layer_path("silver", name), partition_by.get(name)
        )
        for name, df in silver.items()
    }


def run_quality_gate(
    bronze: dict[str, DataFrame],
    silver: dict[str, DataFrame],
    config: PipelineConfig,
) -> list[quality.CheckResult]:
    results = quality.silver_studies_suite(
        bronze["studies"], silver["studies"], config
    )
    failures = [r for r in results if not r.passed]
    if failures:
        raise RuntimeError(f"quality gate failed: {failures}")
    return results


def fact_with_start_year(fact: DataFrame) -> DataFrame:
    """Attach the gold fact's partition key: the year encoded in the
    yyyyMMdd smart date key (0 for the default member — unmatched/NULL
    start dates land in their own partition, never dropped)."""
    from pyspark.sql import functions as F

    return fact.withColumn(
        "start_year", F.floor(F.col("start_date_key") / 10000).cast("int")
    )


def write_gold_fact(
    fact: DataFrame, config: PipelineConfig, years: list[int] | None = None
) -> None:
    """Partitioned gold fact write (``config.partition_gold`` path).

    Full refresh when ``years`` is None; with ``years`` given this is
    the INCREMENTAL refresh: only the listed start-year partitions are
    recomputed and dynamically overwritten — at 100 TB a daily load
    rewrites the one or two years new trials fall into instead of the
    whole fact table (vs the reference's full DROP+CTAS,
    ``aact_silver_layer.sql:8-9``).
    """
    from pyspark.sql import functions as F

    df = fact_with_start_year(fact)
    if years is not None:
        df = df.filter(F.col("start_year").isin([int(y) for y in years]))
    overwrite_partitions(
        df, config.layer_path("gold", "fact_trials"), ["start_year"]
    )


def build_gold(
    spark: SparkSession, silver: dict[str, DataFrame], config: PipelineConfig
) -> dict[str, DataFrame]:
    d_stud = dim_studies(silver["studies"])
    d_spon = dim_sponsors(silver["sponsors"])
    d_cond = dim_conditions(silver["conditions"])
    d_int = dim_interventions(silver["interventions"])
    d_date = dim_dates(spark, config)
    gold = {
        "dim_studies": d_stud,
        "dim_sponsors": d_spon,
        "dim_conditions": d_cond,
        "dim_interventions": d_int,
        "dim_dates": d_date,
        "fact_trials": fact_trials(silver["studies"], d_stud, d_date),
        "bridge_trial_sponsors": bridge_trial_sponsors(silver["sponsors"], d_spon),
        "bridge_trial_conditions": bridge_trial_conditions(
            silver["conditions"], d_cond
        ),
        "bridge_trial_interventions": bridge_trial_interventions(
            silver["interventions"], d_int
        ),
        "opportunity_rank": opportunity_rank(
            silver["studies"],
            silver["conditions"],
            silver["interventions"],
            silver["sponsors"],
            config,
        ),
    }
    for name, df in gold.items():
        if name == "fact_trials" and config.partition_gold:
            write_gold_fact(df, config)
        else:
            write_table(df, config.layer_path("gold", name))
    return gold


def run_pipeline(
    spark: SparkSession, data_dir: str, config: PipelineConfig = DEFAULT_CONFIG
) -> dict[str, DataFrame]:
    bronze = ingest_bronze(spark, data_dir, config)
    silver = build_silver(spark, bronze, config)
    run_quality_gate(bronze, silver, config)
    gold = build_gold(spark, silver, config)
    return gold


def main() -> None:
    from .session import get_spark

    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--data-dir", required=True)
    parser.add_argument("--warehouse", default="spark-warehouse/medallion")
    args = parser.parse_args()
    config = PipelineConfig(warehouse_dir=args.warehouse)
    spark = get_spark(app_name="aact-medallion")
    gold = run_pipeline(spark, args.data_dir, config)
    top = gold["opportunity_rank"].orderBy("opportunity_score", ascending=False)
    top.show(20, truncate=False)


if __name__ == "__main__":
    main()
