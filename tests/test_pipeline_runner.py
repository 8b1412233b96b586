"""End-to-end pipeline runner test: CSV extracts on disk -> bronze ->
silver (partitioned) -> quality gate -> gold parquet, via run_pipeline."""

from __future__ import annotations

import csv as csvmod
import io

import pytest

from fixtures import make_bronze_fixtures
from clinical_trials_data_pipeline_analyis_spark.config import PipelineConfig
from clinical_trials_data_pipeline_analyis_spark.pipeline import (
    EXTRACT_FILES,
    MAPPING_FILES,
    run_pipeline,
)
from clinical_trials_data_pipeline_analyis_spark.schemas import BRONZE_SCHEMAS


def _write_csv(path, records, schema, sep):
    cols = [f.name for f in schema.fields]
    with open(path, "w", newline="") as fh:
        w = csvmod.writer(fh, delimiter=sep, quoting=csvmod.QUOTE_MINIMAL)
        w.writerow(cols)
        for rec in records:
            w.writerow(["" if rec.get(c) is None else rec.get(c) for c in cols])


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("aact_csv")
    tables = make_bronze_fixtures(n_studies=200, seed=11)
    for table, filename in EXTRACT_FILES.items():
        _write_csv(d / filename, tables[table], BRONZE_SCHEMAS[table], "|")
    for table, filename in MAPPING_FILES.items():
        _write_csv(d / filename, tables[table], BRONZE_SCHEMAS[table], ",")
    return d


def test_run_pipeline_end_to_end(spark, data_dir, tmp_path_factory):
    wh = tmp_path_factory.mktemp("warehouse")
    config = PipelineConfig(warehouse_dir=str(wh))
    gold = run_pipeline(spark, str(data_dir), config)

    assert gold["fact_trials"].count() == 200
    assert gold["dim_dates"].count() == 18628  # 1980-01-01..2030-12-31
    # silver studies partitioned by study_type on disk
    parts = [
        p.name
        for p in (wh / "silver" / "studies").iterdir()
        if p.name.startswith("study_type=")
    ]
    assert len(parts) >= 2
    # gold written and re-readable
    opp = spark.read.parquet(str(wh / "gold" / "opportunity_rank"))
    cols = set(opp.columns)
    assert cols == {
        "condition_name",
        "therapeutic_area",
        "total_trials",
        "opportunity_score",
    }


def test_layer_rereads_launch_no_jobs(spark, data_dir, tmp_path_factory, monkeypatch):
    """Bronze launches one job per table written, and neither bronze nor
    silver launches a job to re-read a table it just wrote: the re-read
    takes the written frame's schema, so no parquet schema inference
    runs. Each write runs under its own job group and everything else
    under ``rest``. The re-read frames carry the schema inference would
    have given."""
    from clinical_trials_data_pipeline_analyis_spark import pipeline

    sc = spark.sparkContext
    rest = "test_layer_rereads_launch_no_jobs"
    writes = []
    real_write = pipeline.write_table

    def grouped_write(df, path, partition_by=None):
        writes.append(f"{rest}-write-{len(writes)}")
        sc.setJobGroup(writes[-1], path)
        try:
            real_write(df, path, partition_by=partition_by)
        finally:
            sc.setJobGroup(rest, "layer re-reads")

    monkeypatch.setattr(pipeline, "write_table", grouped_write)
    config = PipelineConfig(warehouse_dir=str(tmp_path_factory.mktemp("wh")))
    sc.setJobGroup(rest, "layer re-reads")
    try:
        bronze = pipeline.ingest_bronze(spark, str(data_dir), config)
        bronze_writes = list(writes)
        silver = pipeline.build_silver(spark, bronze, config)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup
    assert len(bronze_writes) == len(EXTRACT_FILES) + len(MAPPING_FILES) == 7
    assert [len(jobs(g)) for g in bronze_writes] == [1] * 7
    assert len(writes) == 7 + len(silver)
    assert jobs(rest) == []
    for layer, frames in (("bronze", bronze), ("silver", silver)):
        for name, df in frames.items():
            inferred = spark.read.parquet(config.layer_path(layer, name))
            assert df.schema == inferred.schema, (layer, name)
