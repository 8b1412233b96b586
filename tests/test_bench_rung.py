"""The rung script: every leg at a tiny corpus in one process, and the
sizing-law pins at the recorded rung sizes without generating them.

The stream legs run at 3 epochs over 2,000 rows, which 3 does not
divide: a chunker that drops the remainder (ids 1,998 and 1,999) fails
the RHP accounting identity here, 3,797 streamed candidates against
3,814 in the batch.
"""

import json
import os
import pathlib
import subprocess
import sys

import pytest

SCRIPTS = pathlib.Path(__file__).resolve().parent.parent / "scripts"
sys.path.insert(0, str(SCRIPTS))

import bench_rung  # noqa: E402


def test_law_pins_match_the_sizing_laws():
    assert set(bench_rung.LAW_PINS) == {1_000_000, 2_500_000, 5_000_000}
    for rows in bench_rung.LAW_PINS:
        bench_rung.check_law_pins(rows)
    bench_rung.check_law_pins(2_000)  # unpinned sizes check nothing


def test_law_pin_check_fails_when_a_law_moves(monkeypatch):
    monkeypatch.setitem(
        bench_rung.LAW_PINS,
        1_000_000,
        {"semdedup_auto_k": 1024, "rhp_auto_bits": 56},
    )
    with pytest.raises(AssertionError, match="sizing laws moved"):
        bench_rung.check_law_pins(1_000_000)


def test_every_leg_runs_at_2000_rows_and_3_epochs(tmp_path):
    env = dict(
        os.environ,
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_GRAFT_SHUFFLE_PARTITIONS="4",
    )
    proc = subprocess.run(
        [
            sys.executable,
            str(SCRIPTS / "bench_rung.py"),
            "--rows", "2000",
            "--epochs", "3",
            "--dir", str(tmp_path),
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    records = [
        json.loads(line)
        for line in proc.stdout.splitlines()
        if line.startswith("{")
    ]
    legs = {r["leg"]: r for r in records if "leg" in r and "epoch" not in r}
    assert list(legs) == list(bench_rung.LEGS)
    summary = records[-1]
    assert summary["metric"] == "rung" and summary["rows"] == 2000
    assert summary["legs"] == {
        name: {k: v for k, v in r.items() if k != "leg"}
        for name, r in legs.items()
    }
    for family in ("rhp", "simhash"):
        stream, batch = legs[f"{family}_stream"], legs[f"{family}_batch"]
        assert batch["candidates_identity"] == "exact", family
        assert batch["flag_parity"] == "exact", family
        assert stream["rows"] == 2000, family
        assert len(stream["epoch_candidates"]) == 3, family
        assert stream["sum_candidates"] == batch["total_candidates"] > 0
        assert stream["flagged"] == batch["flagged"], family
    for name in ("a45_k128", "a45_auto_k", "a53_rhp", "a53_rhp_auto",
                 "a53_rhp_min_recall"):
        assert legs[name]["rows"] > 0, name
    for name in ("a45_k128", "a45_auto_k"):
        assert legs[name]["pair_scan"] == "broadcast", name
        assert any("candidate rows" in m for m in legs[name]["budget_log"])
    assert legs["a45_auto_k"]["k_auto"] == 16
    assert legs["a53_rhp_min_recall"]["escalation"]["recall_estimate"] >= 0.9
