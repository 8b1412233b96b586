"""The bench.py contract: the final stdout line the driver parses, and
the best-of-2 record every row files in the full JSON, with the filed
sample's codegen compile count.

Runs bench.py in a subprocess (its own SparkSession) on two cheap
queries at the test scale factor.
"""

import json
import os
import pathlib
import subprocess
import sys

import pytest

from conftest import SF_DIR

BENCH = pathlib.Path(__file__).resolve().parent.parent / "bench.py"
ONLY = "q04_category_case_chain,q07_date_spine"
COMPACT_KEYS = {"metric", "value", "unit", "queries", "sf", "calib_sec"}


def run_bench(only: str, out: pathlib.Path) -> subprocess.CompletedProcess:
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF_DIR,
        SPARK_GRAFT_ONLY=only,
        SPARK_GRAFT_BENCH_OUT=str(out),
    )
    return subprocess.run(
        [sys.executable, str(BENCH)],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )


@pytest.fixture(scope="module")
def bench_run(tmp_path_factory):
    out = tmp_path_factory.mktemp("bench") / "bench_full.json"
    proc = run_bench(ONLY, out)
    assert proc.returncode == 0, proc.stderr[-2000:]
    return proc.stdout.strip().splitlines(), json.loads(out.read_text())


def test_final_line_carries_exactly_the_kept_keys(bench_run):
    lines, _ = bench_run
    compact = json.loads(lines[-1])
    assert set(compact) == COMPACT_KEYS
    assert compact["metric"] == "suite_wall_clock"
    assert compact["unit"] == "sec"
    assert set(compact["queries"]) == {"q04", "q07"}
    assert compact["value"] == pytest.approx(
        sum(compact["queries"].values()), abs=1e-3
    )
    assert compact["calib_sec"] > 0


def test_verbose_line_per_query(bench_run):
    lines, full = bench_run
    verbose = [json.loads(line) for line in lines[:-1]]
    assert [v["query"] for v in verbose] == sorted(ONLY.split(","))
    for v in verbose:
        assert set(v) == {"query", "sec", "rows"}
        assert v["sec"] == full["queries"][v["query"]]["sec"]


def test_every_row_files_the_faster_of_two_samples(bench_run):
    _, full = bench_run
    assert set(full["queries"]) == set(ONLY.split(","))
    for name, row in full["queries"].items():
        assert len(row["samples"]) == 2, name
        assert row["sec"] == min(row["samples"]), name
        assert row["construct_s"] + row["execute_s"] == pytest.approx(
            row["sec"], abs=2e-4
        ), name
        assert row["rows"] > 0, name
        assert isinstance(row["compiles"], int) and row["compiles"] >= 0, name
    assert full["value"] == pytest.approx(
        sum(r["sec"] for r in full["queries"].values()), abs=1e-4
    )


def test_unmatched_only_filter_exits_nonzero(tmp_path):
    proc = run_bench("no_such_query", tmp_path / "bench_full.json")
    assert proc.returncode != 0
    assert "SPARK_GRAFT_ONLY='no_such_query' matched no queries" in proc.stderr
    assert not (tmp_path / "bench_full.json").exists()


def test_python_workers_import_the_package_from_any_directory(tmp_path):
    # a27 runs a mapInPandas over the package's own code: its Python
    # workers must find the package although the process starts outside
    # the repo and PYTHONPATH is unset.
    out = tmp_path / "bench_full.json"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_GRAFT_SF_DIR=SF_DIR,
        SPARK_GRAFT_ONLY="a27_multimodal_resize",
        SPARK_GRAFT_BENCH_OUT=str(out),
    )
    proc = subprocess.run(
        [sys.executable, str(BENCH)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    (row,) = json.loads(out.read_text())["queries"].values()
    assert row["rows"] > 0
