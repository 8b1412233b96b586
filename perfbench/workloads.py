"""The benchmark's workloads.

Each workload makes its inputs from a seed, defines one *pass* as a list
of operations, runs one operation at a time through the engine's public
functions, and checks every operation's output outside the timed window.

- ``medallion_csv``: one operation is ``pipeline.run_pipeline`` over
  AACT-shaped CSV extracts into a fresh warehouse. It is the only
  workload that runs ``sources.csv``, ``plans.silver``, ``plans.quality``,
  ``plans.gold``, ``plans.opportunity`` and the parquet writes. At the
  default 2,500 studies every extract is under 1 MB, below Spark's 4 MB
  split floor, so each extract is one scan task whatever the CSV options:
  ``sources.csv.tasks`` cannot move at this size.
- ``suite_operators``: driver-orchestrated corpus operators, whose query
  construction launches guard, connected-component-loop and checkpoint
  jobs (``operators.dedup``, ``operators.similarity``, ``operators.graph``,
  ``operators.perceptron``, ``functions.vectors``, ``checkpoint``).

A suite operation builds one query and collects its result
(``toPandas()``), so the timed result itself is compared with the oracle.
"""

from __future__ import annotations

import contextlib
import os
import shutil
from dataclasses import dataclass

import duckdb
import pandas as pd

import datagen
from spans import Tracer


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, stringified, row-sorted frame: the comparison
    ``scripts/drive_driver.py`` applies to Spark-vs-DuckDB results."""
    cols = sorted(df.columns)
    return df[cols].astype(str).sort_values(cols).reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``None`` when equal, else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"schema {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    g, w = normalize(got), normalize(want)
    if not g.equals(w):
        bad = int((g != w).any(axis=1).sum())
        return f"{bad} of {len(g)} rows differ"
    return None


@dataclass
class Sizes:
    n_studies: int = 2_500
    operators_sf: float = 0.01


class Workload:
    """One pass = ``self.ops``; ``run_op`` is the timed call, ``check`` the
    untimed verification of its result."""

    name = ""
    ops: list[str] = []

    def make_inputs(self, work_dir: str, seed: int) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Untimed: compute reference results."""

    def run_op(self, spark, op: str, tracer: Tracer | None):
        raise NotImplementedError

    def check(self, op: str, result) -> str | None:
        """``None`` when the result is right, else the reason."""
        raise NotImplementedError

    def add_storage(self, layers: dict, result) -> None:
        """Add what the op stored to the per-layer metrics."""

    def discard(self, result) -> None:
        """Drop what the op left on disk once it has been checked."""


class MedallionCsv(Workload):
    name = "medallion_csv"
    ops = ["run_pipeline"]

    #: gold tables compared against the DuckDB reference translation
    GOLD = (
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
    )

    def __init__(self, n_studies: int):
        self.n_studies = n_studies
        self._runs = 0
        self.csv_bytes = 0

    def make_inputs(self, work_dir: str, seed: int) -> None:
        self.work_dir = work_dir
        self.data_dir = os.path.join(work_dir, "aact")
        shutil.rmtree(self.data_dir, ignore_errors=True)
        self.records = datagen.write_aact_extracts(self.data_dir, self.n_studies, seed)
        self.csv_bytes = sum(
            os.path.getsize(os.path.join(self.data_dir, f))
            for f in os.listdir(self.data_dir)
        )

    def prepare(self) -> None:
        import pyarrow as pa
        from pyspark.sql import types as T

        import aact_oracle
        from clinical_trials_data_pipeline_analyis_spark.schemas import BRONZE_SCHEMAS

        arrow_type = {
            T.StringType: pa.string(),
            T.IntegerType: pa.int32(),
            T.DateType: pa.date32(),
            T.TimestampType: pa.timestamp("us"),
        }
        con = duckdb.connect()
        for name, schema in BRONZE_SCHEMAS.items():
            rows = self.records[name]
            table = pa.table(
                {
                    f.name: pa.array(
                        [r.get(f.name) for r in rows], arrow_type[type(f.dataType)]
                    )
                    for f in schema.fields
                }
            )
            con.register(f"_arrow_{name}", table)
            con.execute(f"CREATE TABLE bronze_{name} AS SELECT * FROM _arrow_{name}")
        for sql in (
            aact_oracle.SILVER_STUDIES_SQL,
            aact_oracle.SILVER_SPONSORS_SQL,
            aact_oracle.SILVER_CONDITIONS_SQL,
            aact_oracle.SILVER_INTERVENTIONS_SQL,
            aact_oracle.SILVER_OUTCOMES_SQL,
        ):
            con.execute(sql)
        for stmt in aact_oracle.GOLD_SQL.split(";"):
            if stmt.strip():
                con.execute(stmt)
        self.expected = {t: con.execute(f"SELECT * FROM {t}").df() for t in self.GOLD}
        con.close()

    def run_op(self, spark, op: str, tracer: Tracer | None):
        from clinical_trials_data_pipeline_analyis_spark import pipeline
        from clinical_trials_data_pipeline_analyis_spark.config import PipelineConfig

        self._runs += 1
        wh = os.path.join(self.work_dir, f"warehouse_{self._runs}")
        config = PipelineConfig(warehouse_dir=wh)
        if tracer is None:
            pipeline.run_pipeline(spark, self.data_dir, config)
            return wh
        # run_pipeline resolves its steps, write_table and opportunity_rank
        # as module globals at call time, so wrapping those names gives
        # each a span while the program's own run_pipeline drives them.
        with contextlib.ExitStack() as stack:
            for step in PIPELINE_STEPS:
                stack.enter_context(_wrap(pipeline, step, tracer, _named(f"pipeline.{step}")))
            stack.enter_context(_wrap(pipeline, "write_table", tracer, _write_span))
            stack.enter_context(
                _wrap(pipeline, "opportunity_rank", tracer, _named("plans.opportunity"))
            )
            pipeline.run_pipeline(spark, self.data_dir, config)
        return wh

    def check(self, op: str, wh: str) -> str | None:
        """Gold equals the DuckDB reference translation and ``fact_trials``
        has one row per study (the quality gate raises inside the op)."""
        errors = []
        with duckdb.connect() as con:
            for t in self.GOLD:
                got = con.execute(
                    f"SELECT * FROM read_parquet('{wh}/gold/{t}/*.parquet')"
                ).df()
                if t == "fact_trials" and len(got) != self.n_studies:
                    errors.append(f"fact_trials rows {len(got)} != studies {self.n_studies}")
                err = compare(got, self.expected[t])
                if err:
                    errors.append(f"{t}: {err}")
        return "; ".join(errors) or None

    def add_storage(self, layers: dict, wh: str) -> None:
        stored = 0
        for layer in ("bronze", "silver", "gold"):
            size = files = 0
            for d, _, names in os.walk(os.path.join(wh, layer)):
                for n in names:
                    if n.endswith(".parquet"):
                        size += os.path.getsize(os.path.join(d, n))
                        files += 1
            layers[f"sources.parquet.{layer}.bytes_written"] += size
            layers[f"sources.parquet.{layer}.files_written"] += files
            stored += size
        layers["stored_bytes_ratio"] += stored / self.csv_bytes

    def discard(self, wh: str) -> None:
        shutil.rmtree(wh, ignore_errors=True)


#: the steps ``pipeline.run_pipeline`` calls, each traced as ``pipeline.<step>``
PIPELINE_STEPS = ("ingest_bronze", "build_silver", "run_quality_gate", "build_gold")


def _named(name: str):
    return lambda *args, **kwargs: name


def _write_span(df, path, *args, **kwargs) -> str:
    layer, table = path.rstrip("/").split("/")[-2:]
    return f"sources.parquet.write:{layer}/{table}"


@contextlib.contextmanager
def _wrap(module, attr: str, tracer: Tracer, span_name):
    """Temporarily route ``module.attr`` through a span named
    ``span_name(*call_args)``."""
    fn = getattr(module, attr)

    def traced(*args, **kwargs):
        with tracer.span(span_name(*args, **kwargs)):
            return fn(*args, **kwargs)

    setattr(module, attr, traced)
    try:
        yield
    finally:
        setattr(module, attr, fn)


class Suite(Workload):
    """Registered queries over seeded suite tables at scale factor ``sf``."""

    def __init__(self, name: str, ops: list[str], sf: float):
        self.name = name
        self.ops = list(ops)
        self.sf = sf

    def make_inputs(self, work_dir: str, seed: int) -> None:
        self.sf_dir = os.path.join(work_dir, "tables")
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        datagen.write_suite_tables(self.sf_dir, self.sf, seed)

    def prepare(self) -> None:
        from clinical_trials_data_pipeline_analyis_spark.sources.parquet import (
            TESTDATA_TABLES,
        )
        from clinical_trials_data_pipeline_analyis_spark.suite import registry

        self.registry = registry()
        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        self.expected = {q: con.sql(self.registry[q].oracle).df() for q in self.ops}
        con.close()

    def run_op(self, spark, op: str, tracer: Tracer | None):
        build = self.registry[op].spark
        if tracer is None:
            return build(spark, self.sf_dir).toPandas()
        with tracer.span("suite.construct", count_py4j=True):
            df = build(spark, self.sf_dir)
        with tracer.span("suite.execute"):
            return df.toPandas()

    def check(self, op: str, result: pd.DataFrame) -> str | None:
        return compare(result, self.expected[op])


#: one query per operator family: MinHash dedup with graph connected
#: components and checkpointed loops (a21), semantic dedup over vectors
#: (a45), perceptron training over vectors (a90). Three, because a run
#: pays a cold pass plus a timed pass of them inside the run-time budget.
OPERATORS = [
    "a21_dedup_cc_clusters",
    "a45_semantic_dedup",
    "a90_perceptron_wide",
]


def make(name: str, sizes: Sizes) -> Workload:
    if name == "medallion_csv":
        return MedallionCsv(sizes.n_studies)
    if name == "suite_operators":
        return Suite(name, OPERATORS, sizes.operators_sf)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("medallion_csv", "suite_operators")
