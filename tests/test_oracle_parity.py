"""Local mirror of the driver's correctness gate: run every registered
Spark query and its DuckDB oracle side-by-side on the same parquet tables,
compare row count, column-name set, and order-insensitive values.

Float columns are compared exactly (the suite's exact-match discipline —
decimal-exact sums + round(6) — is supposed to make both engines emit
bit-identical doubles); a tiny tolerance fallback flags anything that would
be hash-unstable under the driver.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from compare_util import compare_frames as _compare
from conftest import SF_DIR
from clinical_trials_data_pipeline_analyis_spark.sources.parquet import TESTDATA_TABLES
from clinical_trials_data_pipeline_analyis_spark import suite
from clinical_trials_data_pipeline_analyis_spark.suite import register, registry

_REG = registry()


def _duck_run(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con.execute(sql).df()


@pytest.mark.parametrize("name", sorted(_REG))
def test_query_matches_oracle(spark, name):
    reg = _REG[name]
    got = reg.spark(spark, SF_DIR).toPandas()
    want = _duck_run(reg.oracle)
    _compare(name, got, want)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0 and len(df.columns) > 0


def test_every_query_has_coverage_tags():
    for name, reg in _REG.items():
        assert reg.covers, f"{name} declares no SURVEY §2 coverage"


def test_every_query_has_value_oracle():
    empty = [n for n, r in _REG.items() if not (r.oracle and r.oracle.strip())]
    assert not empty, f"queries without a value oracle: {empty}"


def test_all_query_families_registered():
    expected = (
        {f"q{i:02d}" for i in range(1, 31)}
        | {f"x{i:02d}" for i in range(1, 21)}
        | {f"a{i}" for i in range(21, 91)}
    )
    assert expected <= {n.split("_", 1)[0] for n in _REG}
    assert len(_REG) == 127


def test_registry_keeps_registration_order():
    """tpch queries first, then extensions, each in decorator order;
    every view of the registry iterates the same way."""
    names = list(_REG)
    assert names == list(suite._REGISTRY)
    modules = [_REG[n].spark.__module__.rsplit(".", 1)[-1] for n in names]
    n_tpch = modules.count("tpch")
    assert modules == ["tpch"] * n_tpch + ["extensions"] * (len(names) - n_tpch)
    assert list(suite.spark_queries()) == names
    assert list(suite.oracle_queries()) == names


def test_register_refuses_duplicate_name():
    name = next(iter(_REG))
    with pytest.raises(ValueError, match=name):
        register(name, "SELECT 1 AS x")
    assert suite._REGISTRY[name] is _REG[name]


@pytest.mark.parametrize("oracle", ["", "  \n"])
def test_register_refuses_empty_oracle(oracle):
    with pytest.raises(ValueError, match="oracle is empty"):
        register("zz_unregistered", oracle)
    assert "zz_unregistered" not in suite._REGISTRY
