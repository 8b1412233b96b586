"""Smoke test of the benchmark itself at a tiny size (300 studies, sf0.001).

    python3 -m pytest perfbench/test_smoke.py -q

Each case runs the benchmark in a child process, as it runs for real, and
checks:

- every metric ``BENCHMARK.json`` names is emitted, with its unit;
- the per-layer ``rows_out`` counts equal the rows of the tables written;
- a wrong query result is counted as a failure and raises ``error_rate``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

PRELUDE = f"""
import json, sys
sys.path[:0] = [{HERE!r}]
import run, workloads
SIZES = workloads.Sizes(n_studies=300, operators_sf=0.001)
"""


def bench(code: str) -> list[dict]:
    """Run ``code`` after PRELUDE in a child process; returns the JSON
    lines it printed to stdout, in order."""
    proc = subprocess.run(
        [sys.executable, "-c", PRELUDE + textwrap.dedent(code)],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return [json.loads(s) for s in proc.stdout.splitlines() if s.startswith("{")]


def units(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[section]}


def emitted_units(line: dict) -> dict[str, str]:
    return {k: v["unit"] for k, v in line["metrics"].items()}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics_have_units(workload):
    *_, line = bench(
        f"run.main(['--workload', {workload!r}, '--seed', '3', '--seconds', '1'], SIZES)"
    )
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    assert emitted_units(line) == units("end_to_end")
    assert all(v["value"] > 0 for v in line["metrics"].values())


def test_medallion_rows_out_equal_table_counts():
    # Count each layer's tables before the benchmark deletes the warehouse.
    *_, line, counts = bench(
        """
        import os, duckdb
        counts = {}
        discard = workloads.MedallionCsv.discard

        def counting_discard(self, wh):
            if not counts:
                con = duckdb.connect()
                for layer in ("bronze", "silver", "gold"):
                    d = os.path.join(wh, layer)
                    counts[layer] = sum(
                        con.execute(
                            f"SELECT count(*) FROM read_parquet('{d}/{t}/**/*.parquet')"
                        ).fetchone()[0]
                        for t in os.listdir(d)
                    )
            discard(self, wh)

        workloads.MedallionCsv.discard = counting_discard
        run.main(['--workload', 'medallion_csv', '--seed', '3', '--seconds', '1',
                  '--trace', '1'], SIZES)
        print(json.dumps(counts))
        """
    )
    assert emitted_units(line) == units("per_layer")
    m = {k: v["value"] for k, v in line["metrics"].items()}
    assert m["pipeline.ingest_bronze.rows_out"] == counts["bronze"]
    assert m["pipeline.build_silver.rows_out"] == counts["silver"]
    assert m["pipeline.build_gold.rows_out"] == counts["gold"]
    assert m["pipeline.build_gold.jobs"] > 0 and m["sources.csv.input_bytes"] > 0
    assert m["error_rate"] == 0


def test_wrong_result_raises_error_rate():
    *_, info, line = bench(
        """
        import dataclasses
        from clinical_trials_data_pipeline_analyis_spark import suite
        suite._load_all()
        name = workloads.OPERATORS[-1]
        good = suite._REGISTRY[name]
        suite._REGISTRY[name] = dataclasses.replace(
            good, spark=lambda s, d: good.spark(s, d).limit(1)
        )
        run.main(['--workload', 'suite_operators', '--seed', '3', '--seconds', '1',
                  '--trace', '1'], SIZES)
        """
    )
    sys.path.insert(0, HERE)
    import workloads

    assert not line["correct"] and line["failed"] >= 1
    assert line["metrics"]["error_rate"]["value"] > 0
    assert {f["op"] for f in info["failures"]} == {workloads.OPERATORS[-1]}
