"""End-to-end medallion pipeline parity vs the DuckDB reference
translation, plus the data-quality invariant suite, on AACT-shaped
fixtures (FIXTURES.md)."""

from __future__ import annotations

import duckdb
import pytest

from compare_util import compare_frames
from fixtures import make_bronze_fixtures

import aact_oracle as oracle
from clinical_trials_data_pipeline_analyis_spark.config import DEFAULT_CONFIG
from clinical_trials_data_pipeline_analyis_spark.schemas import BRONZE_SCHEMAS
from clinical_trials_data_pipeline_analyis_spark.plans import (
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
from clinical_trials_data_pipeline_analyis_spark.plans import quality


@pytest.fixture(scope="module")
def bronze(spark, tmp_path_factory):
    """Spark bronze DataFrames + parquet copies for the DuckDB oracle."""
    tmp = tmp_path_factory.mktemp("aact_bronze")
    tables = make_bronze_fixtures(n_studies=800, seed=42)
    dfs = {}
    for name, records in tables.items():
        schema = BRONZE_SCHEMAS[name]
        rows = [tuple(rec.get(f.name) for f in schema.fields) for rec in records]
        df = spark.createDataFrame(rows, schema)
        path = str(tmp / name)
        df.write.mode("overwrite").parquet(path)
        dfs[name] = spark.read.parquet(path)
    return dfs, tmp


@pytest.fixture(scope="module")
def spark_tables(spark, bronze):
    dfs, _ = bronze
    sstud = silver_studies(dfs["studies"], DEFAULT_CONFIG)
    sspon = silver_sponsors(dfs["sponsors"], dfs["sponsor_mapping"])
    scond = silver_conditions(dfs["conditions"])
    sint = silver_interventions(dfs["interventions"], dfs["intervention_mapping"])
    sout = silver_outcomes(dfs["outcomes"])
    d_stud = dim_studies(sstud)
    d_spon = dim_sponsors(sspon)
    d_cond = dim_conditions(scond)
    d_int = dim_interventions(sint)
    d_date = dim_dates(spark)
    return {
        "silver_studies": sstud,
        "silver_sponsors": sspon,
        "silver_conditions": scond,
        "silver_interventions": sint,
        "silver_outcomes": sout,
        "dim_studies": d_stud,
        "dim_sponsors": d_spon,
        "dim_conditions": d_cond,
        "dim_interventions": d_int,
        "dim_dates": d_date,
        "fact_trials": fact_trials(sstud, d_stud, d_date),
        "bridge_trial_sponsors": bridge_trial_sponsors(sspon, d_spon),
        "bridge_trial_conditions": bridge_trial_conditions(scond, d_cond),
        "bridge_trial_interventions": bridge_trial_interventions(sint, d_int),
        "opportunity_rank": opportunity_rank(sstud, scond, sint, sspon),
    }


@pytest.fixture(scope="module")
def duck(bronze):
    _, tmp = bronze
    con = duckdb.connect()
    for name in BRONZE_SCHEMAS:
        con.execute(
            f"CREATE VIEW bronze_{name} AS SELECT * FROM '{tmp}/{name}/*.parquet'"
        )
    for sql in (
        oracle.SILVER_STUDIES_SQL,
        oracle.SILVER_SPONSORS_SQL,
        oracle.SILVER_CONDITIONS_SQL,
        oracle.SILVER_INTERVENTIONS_SQL,
        oracle.SILVER_OUTCOMES_SQL,
    ):
        con.execute(sql)
    for stmt in oracle.GOLD_SQL.split(";"):
        if stmt.strip():
            con.execute(stmt)
    return con


_TABLES = [
    "silver_studies",
    "silver_sponsors",
    "silver_conditions",
    "silver_interventions",
    "silver_outcomes",
    "dim_studies",
    "dim_sponsors",
    "dim_conditions",
    "dim_interventions",
    "dim_dates",
    "fact_trials",
    "bridge_trial_sponsors",
    "bridge_trial_conditions",
    "bridge_trial_interventions",
    "opportunity_rank",
]


@pytest.mark.parametrize("table", _TABLES)
def test_pipeline_table_matches_reference_translation(spark_tables, duck, table):
    got = spark_tables[table].toPandas()
    want = duck.execute(f"SELECT * FROM {table}").df()
    compare_frames(table, got, want)


def test_quality_suite_green(bronze, spark_tables):
    dfs, _ = bronze
    results = quality.silver_studies_suite(
        dfs["studies"], spark_tables["silver_studies"]
    )
    failures = [r for r in results if not r.passed]
    assert not failures, f"quality violations: {failures}"


def _inject(df, ids, **values):
    """Overwrite ``values`` (column -> literal, None for NULL) on the rows
    whose nct_id is in ``ids``; every other row keeps its value."""
    from pyspark.sql import functions as F

    hit = F.col("nct_id").isin(ids)
    for col, value in values.items():
        new = F.lit(value).cast(df.schema[col].dataType)
        df = df.withColumn(col, F.when(hit, new).otherwise(F.col(col)))
    return df


@pytest.fixture(scope="module")
def violating(bronze):
    """Bronze/silver studies with a known number of violations per check.

    Each injection uses its own studies and the duplicates copy clean rows,
    so each expected count is the sum of the injections that hit its check."""
    dfs, _ = bronze
    b = dfs["studies"]
    ids = sorted(r.nct_id for r in b.select("nct_id").collect())
    s = silver_studies(b, DEFAULT_CONFIG)
    s = _inject(s, ids[0:1], acronym=None)
    s = _inject(s, ids[1:2], acronym=None, why_stopped=None)
    s = _inject(s, ids[2:3], phase="PHASE 9")
    s = _inject(s, ids[3:4], phase=None)
    s = _inject(s, ids[4:5], overall_status="Bogus")
    s = _inject(s, ids[5:6], has_dmc="Maybe")
    s = _inject(s, ids[6:7], start_date="1990-01-01")
    s = _inject(s, ids[7:8], start_date="2030-01-01")
    s = _inject(s, ids[8:9], target_duration_days=DEFAULT_CONFIG.duration_cap_days + 1)
    s = _inject(s, ids[9:10], study_type="OBSERVATIONAL", enrollment=600_000)
    s = _inject(s, ids[10:11], study_type="INTERVENTIONAL", enrollment=20_000)
    s = _inject(s, ids[11:12], enrollment=-1)
    # a NULL enrollment is an imputation miss, not a cap violation
    s = _inject(s, ids[12:13], study_type="OBSERVATIONAL", enrollment=None)
    s = _inject(
        s, ids[13:14],
        expanded_access_nctid="NCT99999999", expanded_access_status_for_nctid=None,
    )
    dup = s.filter(s.nct_id.isin(ids[20:22]))
    s = s.unionByName(dup).unionByName(dup.filter(dup.nct_id == ids[20]))
    b = _inject(b, ids[14:16], number_of_arms=2, number_of_groups=2)
    return b, s


_EXPECTED_VIOLATIONS = [
    ("studies_pk", 2),
    ("imputed_no_nulls", 5),
    ("domain(phase)", 2),
    ("domain(overall_status)", 1),
    ("domain(has_dmc)", 1),
    ("start_date_window", 2),
    ("bounds(target_duration_days)", 1),
    ("enrollment_caps", 3),
    ("mutex(number_of_arms,number_of_groups)", 2),
    ("implies(expanded_access_nctid->expanded_access_status_for_nctid)", 1),
    ("studies_row_preservation", 3),
]


def test_quality_suite_counts_injected_violations(violating):
    b, s = violating
    results = quality.silver_studies_suite(b, s, DEFAULT_CONFIG)
    assert [(r.name, r.violations) for r in results] == _EXPECTED_VIOLATIONS


def test_quality_gate_raises_naming_every_failing_check(violating):
    from clinical_trials_data_pipeline_analyis_spark import pipeline

    b, s = violating
    with pytest.raises(RuntimeError) as err:
        pipeline.run_quality_gate({"studies": b}, {"studies": s}, DEFAULT_CONFIG)
    for name, _ in _EXPECTED_VIOLATIONS:
        assert f"name='{name}'" in str(err.value)


def test_quality_suite_job_budget(spark, bronze, spark_tables):
    """The gate is two aggregates (one over silver, one over bronze), so it
    launches a handful of jobs, not one per check."""
    dfs, _ = bronze
    sc = spark.sparkContext
    group = "test_quality_suite_job_budget"
    sc.setJobGroup(group, "quality gate")
    try:
        quality.silver_studies_suite(
            dfs["studies"], spark_tables["silver_studies"], DEFAULT_CONFIG
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 6


def test_dim_key_density(spark_tables):
    """Surrogate keys are dense 1..N (reference row_number contract)."""
    from pyspark.sql import functions as F

    for name, key in [
        ("dim_studies", "study_key"),
        ("dim_sponsors", "sponsor_key"),
        ("dim_conditions", "condition_key"),
        ("dim_interventions", "intervention_key"),
    ]:
        df = spark_tables[name]
        stats = df.agg(
            F.min(key).alias("lo"), F.max(key).alias("hi"), F.count("*").alias("n")
        ).collect()[0]
        assert stats["lo"] == 1 and stats["hi"] == stats["n"], name


def test_n2_phase_null_lands_in_phase4(spark, bronze):
    """SURVEY N2: NULL phase must recode to 'PHASE 4', not 'Not Applicable'."""
    dfs, _ = bronze
    from pyspark.sql import functions as F

    silver = silver_studies(dfs["studies"])
    joined = (
        dfs["studies"].select("nct_id", F.col("phase").alias("raw_phase"))
        .join(silver.select("nct_id", "phase"), "nct_id")
    )
    nulls = joined.filter(F.col("raw_phase").isNull())
    assert nulls.count() > 0, "fixture must exercise NULL phases"
    assert nulls.filter(F.col("phase") != "PHASE 4").count() == 0
