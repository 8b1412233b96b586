"""Round-11 additions: the large-k flat-dot opt-in on the SemDeDup
coarse assign (bit-identity + the auto rule), per the 2.5M-rung finding
that |corpus| x k assign dots dominate once k ∝ n.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR

from clinical_trials_data_pipeline_analyis_spark.operators import similarity
from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
    ivf_assign,
    semantic_dedup,
)

_DIM = 64


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_ivf_assign_flat_is_bit_identical(spark):
    """use_flat routes only the cross-term dot through the flat codegen
    form — same left-assoc float order, so every (centroid_id, cosine)
    must be EXACTLY equal, not approximately."""
    emb = _emb(spark)
    cent = emb.filter(F.col("vec_id") % 97 == 0)
    key = lambda r: (r["vec_id"], r["centroid_id"], r["cosine"])
    fold = sorted(map(key, ivf_assign(emb, cent, dim=_DIM).collect()))
    flat = sorted(
        map(key, ivf_assign(emb, cent, dim=_DIM, use_flat=True).collect())
    )
    assert fold == flat


def test_semantic_dedup_auto_flat_rule(spark, monkeypatch):
    """Past IVF_ASSIGN_FLAT_MIN_K centroids semantic_dedup flips the
    assign to flat; results must be identical to the fold path. The
    fixture's centroid set is small, so the threshold is lowered to
    force the flat branch rather than synthesizing 512 centroids."""
    emb = _emb(spark)
    cent = emb.filter(F.col("vec_id") % 97 == 0)
    k = cent.count()
    assert k < similarity.IVF_ASSIGN_FLAT_MIN_K  # default path = fold
    key = lambda r: (r["vec_id"], r["component"], r["cos_centroid"], r["kept"])
    fold = sorted(map(key, semantic_dedup(emb, cent, 0.95, dim=_DIM).collect()))
    monkeypatch.setattr(similarity, "IVF_ASSIGN_FLAT_MIN_K", k)  # binds now
    flat = sorted(map(key, semantic_dedup(emb, cent, 0.95, dim=_DIM).collect()))
    assert fold == flat


# ---------------------------------------------------------------------
# Data-aware RHP band escalation (the 5M-rung refusal: rhp_auto_bits'
# n-only law under-sizes on clustered corpora — measured 1.16e9
# candidates vs the 500M budget at 17-bit bands; auto mode now probes
# the actual candidate mass and widens until it fits).
# ---------------------------------------------------------------------
from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (  # noqa: E402
    bucket_pairs,
    pair_mass,
)
from clinical_trials_data_pipeline_analyis_spark.streaming.store_meta import (  # noqa: E402
    _price_epoch_join,
)
from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (  # noqa: E402
    rhp_candidate_estimate,
    rhp_escalate_geometry,
    rhp_near_duplicates,
    rhp_signatures,
)


def test_rhp_candidate_estimate_matches_bucket_math(spark):
    """The narrow estimate must equal the row count of the (band,
    band_sig) bucket join the operator runs, over the SAME geometry's
    signature table."""
    emb = _emb(spark)
    est = rhp_candidate_estimate(emb, 8, 2, dim=_DIM)
    sigs = rhp_signatures(emb, 8, 2, dim=_DIM)
    joined = bucket_pairs(sigs, ["band", "band_sig"], "vec_id").count()
    assert est == joined and est > 0


_MASS_SCHEMA = "id long, band int, bsig string"
_MASS_ROWS = {
    # 12 rows over 2 bands: a mix of singleton and shared buckets
    "spread": [(i, i % 2, f"s{i % 5}") for i in range(12)],
    # one hot bucket holding 40 of 45 rows
    "hot": [(i, 0, "hot") for i in range(40)]
    + [(100 + i, 1, f"c{i}") for i in range(5)],
    "empty": [],
}


@pytest.mark.parametrize("against", [False, True], ids=["symmetric", "against"])
@pytest.mark.parametrize("shape", sorted(_MASS_ROWS))
def test_pair_mass_matches_equi_join(spark, shape, against):
    """pair_mass (the accounting every batch candidate-budget guard
    uses) must equal the row count of the bucket_pairs join it prices,
    Σ n(n−1)/2 under ``id_a < id_b``, and its row count must equal the
    frame's; empty input gives (0, 0). The streams' epoch price must
    equal the row count of the keep-first ``against`` join of the batch
    with history plus batch (the history is the same rows at lower
    ids, so every bucket holds both)."""
    keys = ["band", "bsig"]
    df = spark.createDataFrame(_MASS_ROWS[shape], _MASS_SCHEMA)
    if against:
        every = df.withColumn("id", F.col("id") - 1000).unionByName(df)
        pairs, _, _ = _price_epoch_join(df, every, keys)
        joined = (
            bucket_pairs(df, keys, "id", right=every, against=True)
            .filter(F.col("id_b") < F.col("id_a"))
            .count()
        )
        assert pairs == joined
        if shape == "hot":
            # 40 new x 40 old + C(40, 2) in the hot bucket, 1 x 1 in
            # each of the 5 singletons
            assert pairs == 40 * 40 + 40 * 39 // 2 + 5
        return
    pairs, rows = pair_mass(df, keys)
    assert pairs == bucket_pairs(df, keys, "id").count()
    assert rows == len(_MASS_ROWS[shape])
    if shape == "empty":
        assert (pairs, rows) == (0, 0)
    elif shape == "hot":
        assert pairs == 40 * 39 // 2


def test_rhp_escalate_bits_fits_the_budget(spark):
    """Starting from deliberately under-sized 1-bit bands (2 buckets per
    band — nearly all-pairs), escalation must widen until the measured
    candidate mass fits the budget, and the returned geometry's
    estimate must actually fit."""
    emb = _emb(spark)
    n = emb.count()
    budget = max(50, n // 2)  # far below the 1-bit all-pairs mass
    chosen = rhp_escalate_geometry(
        emb, 2, 2, max_candidates=budget, dim=_DIM
    ).n_bits
    assert chosen > 2 and chosen % 2 == 0
    assert rhp_candidate_estimate(emb, chosen, 2, dim=_DIM) <= budget


def test_rhp_auto_escalation_completes_and_matches_pinned(spark, monkeypatch):
    """An auto call whose initial law-sized geometry exceeds the budget
    must COMPLETE (not refuse) and return exactly the pinned result at
    the escalated width — auto is sizing, never semantics.

    The threshold sits BELOW the fixture's cosine range (max pairwise
    cosine ≈ 0.479 — ADVICE r11: at 0.8 both sides were empty and the
    equality was vacuous), so the compared result sets are non-empty
    and the identity is exercised on real rows. The law's starting
    geometry is asserted explicitly: RHP_TARGET_BUCKET=2n puts the raw
    law at 1-bit bands, but rhp_auto_bits floors at RHP_MIN_BAND_BITS=8,
    so the escalation starts from 8-bit bands (16 total), not 1-bit."""
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        rhp_auto_bits,
    )

    emb = _emb(spark)
    n = emb.count()
    budget = max(50, n // 2)
    monkeypatch.setattr(similarity, "RHP_TARGET_BUCKET", 2 * n)
    assert rhp_auto_bits(n, bands=2) == 16  # 8-bit floor
    # Same 16-bit law start as the auto call, so both walk the same
    # probe sequence and land on the same escalated width.
    chosen = rhp_escalate_geometry(
        emb, 16, 2, max_candidates=budget, dim=_DIM
    ).n_bits
    assert chosen > 16  # the fixture's mass escalates past the law
    key = lambda r: (r["vec_a"], r["vec_b"], r["cosine"])  # noqa: E731
    auto = sorted(
        map(
            key,
            rhp_near_duplicates(
                emb, 0.3, n_bits="auto", bands=2, dim=_DIM,
                max_candidates=budget,
            ).collect(),
        )
    )
    pinned = sorted(
        map(
            key,
            rhp_near_duplicates(
                emb, 0.3, n_bits=chosen, bands=2, dim=_DIM,
                max_candidates=budget,
            ).collect(),
        )
    )
    assert auto and auto == pinned


def test_rhp_pinned_refusal_unchanged(spark):
    """A pinned-int call past the budget must still refuse loudly with
    the bits-growth prescription — escalation is auto-mode only."""
    import pytest

    emb = _emb(spark)
    with pytest.raises(ValueError, match="under-sized for this corpus"):
        rhp_near_duplicates(
            emb, 0.8, n_bits=2, bands=2, dim=_DIM, max_candidates=50
        ).count()


def test_rhp_escalate_bits_stops_at_ceiling(spark, monkeypatch):
    """An unsatisfiable budget (0) must stop at RHP_MAX_BAND_BITS, not
    loop: exact-dup collisions survive any width, so some corpora can
    never fit an arbitrarily small budget and the ceiling is the exit."""
    emb = _emb(spark)
    monkeypatch.setattr(similarity, "RHP_MAX_BAND_BITS", 3)
    chosen = rhp_escalate_geometry(
        emb, 2, 2, max_candidates=0, dim=_DIM
    ).n_bits
    assert chosen == 6  # 2 bands x 3-bit ceiling
