"""Bronze source IO: pipe-delimited CSV ingest under explicit schema
(S4), mapping CSV (S5), overwrite-idempotent parquet writes (S3/S6)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from clinical_trials_data_pipeline_analyis_spark.schemas import (
    CONDITIONS_SCHEMA,
    SPONSOR_MAPPING_SCHEMA,
)
from clinical_trials_data_pipeline_analyis_spark.sources import (
    read_mapping_csv,
    read_pipe_csv,
    write_table,
)


def test_pipe_csv_roundtrip(spark, tmp_path):
    p = tmp_path / "conditions.txt"
    p.write_text(
        "id|nct_id|name|downcase_name\n"
        "c1|NCT001|Breast Cancer|breast cancer\n"
        'c2|NCT002|"Diabetes, Type 2"|"diabetes, type 2"\n'
        "c3|NCT003||\n"  # NULL name
    )
    df = read_pipe_csv(spark, str(p), CONDITIONS_SCHEMA)
    rows = {r["id"]: r for r in df.collect()}
    assert len(rows) == 3
    assert rows["c2"]["downcase_name"] == "diabetes, type 2"  # quoted delimiter
    assert rows["c3"]["name"] is None  # empty -> NULL


def test_mapping_csv(spark, tmp_path):
    p = tmp_path / "sponsor_mapping.csv"
    p.write_text(
        "raw_sponsor_name,clean_sponsor_name,sponsor_category\n"
        "Pfizer Inc.,Pfizer,Industry\n"
    )
    df = read_mapping_csv(spark, str(p), SPONSOR_MAPPING_SCHEMA)
    assert df.collect()[0]["clean_sponsor_name"] == "Pfizer"


def test_overwrite_idempotent_write(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(10).select(
        F.col("id"), (F.col("id") % 3).alias("bucket")
    )
    write_table(df, path)
    write_table(df, path)  # second run must fully replace, not append
    assert spark.read.parquet(path).count() == 10


def test_partitioned_write_prunes(spark, tmp_path):
    path = str(tmp_path / "p")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).alias("part_col")
    )
    write_table(df, path, partition_by=["part_col"])
    read = spark.read.parquet(path).filter(F.col("part_col") == 2)
    assert read.count() == 25
    # partition pruning visible in the physical plan
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "part_col" in plan


def test_jsonl_roundtrip(spark, tmp_path):
    """JSONL export/import preserves schema and values; partitioned
    writes lay out hive-style lang directories a read can prune on."""
    from conftest import SF_DIR
    from clinical_trials_data_pipeline_analyis_spark.sources import (
        read_jsonl,
        write_jsonl,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, path, compression=None, partition_by=("lang",))

    back = read_jsonl(
        spark, path, "doc_id BIGINT, text STRING, lang STRING"
    ).select("doc_id", "lang", "text")
    a = sorted(docs.collect(), key=lambda r: r["doc_id"])
    b = sorted(back.collect(), key=lambda r: r["doc_id"])
    assert a == b

    pruned = read_jsonl(
        spark, path, "doc_id BIGINT, text STRING, lang STRING"
    ).filter(F.col("lang") == "en")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan
