"""Round-10 hardening (VERDICT r9 asks #5 and #7).

- Standing CONSUMERS for the two auto-sizing recipes, exercised where
  the auto value DIFFERS from the registered pinned geometry — so a
  regression in the sizing arithmetic fails a test instead of the next
  hand-run 1M rung:
  * ``n_bits="auto"`` resolving to 56 bits (the 1M prescription, ≠ the
    registered 48) must equal a pinned 56-bit run value-for-value;
  * ``semdedup_auto_k`` provisioning (k=16 here, ≠ the registered 128)
    must carry ``semantic_dedup`` end-to-end under the very candidate
    budget the recipe exists to respect.
- The RHP candidate-budget refusal message is pinned the way
  ``test_semdedup_candidate_budget_refuses_by_default_shape`` pins
  SemDeDup's: a forced hot bucket refuses naming the exact Σ n(n−1)/2
  count and the bits-growth prescription.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR


def _read_emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


# ----------------------- auto-sizing consumers (VERDICT r9 ask #5)
def test_rhp_auto_consumer_beyond_resolution_point(spark):
    """Auto band width at the 1M prescription (56 bits ≠ the registered
    48) must be value-identical to a pinned 56-bit run — the consumer
    that catches a sizing-arithmetic regression at test time."""
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        rhp_auto_bits,
        rhp_near_duplicates,
    )

    bits_1m = rhp_auto_bits(1_000_000, bands=4)
    assert bits_1m == 56  # the BASELINE 1M-rung prescription
    assert bits_1m != 48  # ≠ the registered a53 geometry: auto must MOVE

    emb = _read_emb(spark)
    auto = rhp_near_duplicates(
        emb, 0.30, n_bits="auto", bands=4, dim=64, row_count_hint=1_000_000
    ).collect()
    pinned = rhp_near_duplicates(
        emb, 0.30, n_bits=56, bands=4, dim=64
    ).collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, pinned))


def test_semdedup_auto_k_consumer_respects_its_own_budget(spark):
    """Provision k with ``semdedup_auto_k`` (k=16 at 500 rows ≠ the
    registered 128) and run semantic_dedup under the exact budget the
    recipe promises to respect (Σ n(n−1)/2 ≲ n × target_cell): the
    guard must stay silent, and every input row must come back with a
    keep decision."""
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        semantic_dedup,
        semdedup_auto_k,
    )

    emb = _read_emb(spark)
    n = emb.count()
    k = semdedup_auto_k(n)
    assert k == 16  # SEMDEDUP_MIN_K floor at 500 rows — and ≠ the registered 128

    cents = emb.orderBy("vec_id").limit(k)
    out = semantic_dedup(
        emb,
        cents,
        threshold=0.95,
        dim=64,
        max_candidates=n * 2000,  # the recipe's own target_cell budget
    )
    rows = out.collect()
    assert len(rows) == n
    kept = {r["kept"] for r in rows}
    assert kept <= {0, 1} and 1 in kept


# ----------------------- RHP budget refusal pin (VERDICT r9 ask #7)
def test_rhp_candidate_budget_refuses_naming_law_and_count(spark):
    """A forced hot bucket (8-bit single band over 500 vectors) must
    refuse with the EXACT Σ n(n−1)/2 candidate count and the
    bits-growth prescription in the message — mirroring the SemDeDup
    budget pin."""
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        rhp_near_duplicates,
        rhp_signatures,
    )

    emb = _read_emb(spark)
    # exact expected count from the same signature geometry
    sigs = rhp_signatures(emb, 8, 1, 64, 13, "vec_id", "embedding")
    est = (
        sigs.groupBy("band", "band_sig")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum((F.col("n") * (F.col("n") - F.lit(1))) / F.lit(2)).alias("c"))
        .collect()[0]["c"]
    )
    assert est > 10  # the forced-hot shape actually overflows the budget

    with pytest.raises(ValueError) as exc:
        rhp_near_duplicates(
            emb, 0.30, n_bits=8, bands=1, dim=64, max_candidates=10
        )
    msg = str(exc.value)
    assert f"{int(est):,}" in msg  # names the exact candidate count
    assert "max_candidates=10" in msg
    assert "log2" in msg  # names the bits-growth prescription


def test_rhp_budget_default_and_disable_are_value_neutral(spark):
    """The default budget never binds at test scale, and disabling it
    reproduces identical pairs — the estimate aggregate is plan-side
    only (mirror of the SemDeDup value-neutrality pin)."""
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        rhp_near_duplicates,
    )

    emb = _read_emb(spark)
    got = rhp_near_duplicates(emb, 0.30, n_bits=48, bands=4, dim=64).collect()
    want = rhp_near_duplicates(
        emb, 0.30, n_bits=48, bands=4, dim=64, max_candidates=None
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
