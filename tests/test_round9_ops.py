"""Round-9 hardening tests.

Covers the round-8 verdict asks and ADVICE items:
- SemDeDup's on-by-default Σ n(n−1)/2 candidate budget (the RHP guard's
  shape — the 1M rung measured k=128 grinding 25 min into an OOM where
  the guard now refuses in seconds naming the k-growth law);
- completion modes for the two corpus-sized models: rhp_auto_bits /
  n_bits="auto" (bits ≈ log2(n/RHP_TARGET_BUCKET)) and semdedup_auto_k
  (k ≈ n/SEMDEDUP_TARGET_CELL), with auto==pinned equality at the resolution
  point where they coincide;
- the ngram_jaccard_pairs guard's EXACT Σ df(df−1)/2 accounting
  (ADVICE: the old Σdf² overstated ~2× and fired at half the budget);
- _require_int_id integrality (ADVICE: int(5.5) must not truncate) and
  the sample_frames NULL-id contract (VERDICT ask #6).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------- multimodal id contract (VERDICT #6)
def test_sample_frames_null_id_raises_named_error(spark):
    """A NULL doc_id with a NON-null payload must fail with the
    operator's own message, like its decode siblings — not a bare
    TypeError inside the Arrow worker."""
    from clinical_trials_data_pipeline_analyis_spark.operators.multimodal import (
        sample_frames,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"x" * 5000)), (None, bytearray(b"y" * 5000))],
        "doc_id LONG, payload BINARY",
    )
    with pytest.raises(Exception) as exc:
        sample_frames(df).collect()
    assert "non-nullable" in str(exc.value)

    # NULL payloads (no frames) are fine regardless of the id fix
    ok = sample_frames(
        spark.createDataFrame(
            [(1, bytearray(b"x" * 5000)), (2, None)],
            "doc_id LONG, payload BINARY",
        )
    ).collect()
    assert {r["doc_id"] for r in ok} == {1}


def test_require_int_id_rejects_fractional():
    """ADVICE r8: the docstring promises 'non-integral ids fail', but
    int(5.5) truncates — enforce integrality, keep integral floats
    (pandas' NULL-widened float64 LONG columns) working."""
    from clinical_trials_data_pipeline_analyis_spark.operators.multimodal import (
        _require_int_id,
    )

    assert _require_int_id("doc_id", 7) == 7
    assert _require_int_id("doc_id", 7.0) == 7  # float64-widened LONG
    for bad in (None, float("nan"), 5.5, "x"):
        with pytest.raises(ValueError) as exc:
            _require_int_id("doc_id", bad)
        assert "non-nullable" in str(exc.value)


# ------------------------------- ngram guard exact accounting (ADVICE)
def test_ngram_guard_counts_exact_join_rows(spark):
    """The guard's estimate must equal the doc_a < doc_b join's actual
    row count: Σ df(df−1)/2. One shingle with df=40 → exactly 780 join
    rows: a 779 budget refuses naming 780; an 800 budget runs (the old
    Σdf² = 1600 would have refused it too — the ADVICE bug)."""
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(40)], "doc_id LONG, text STRING"
    )  # 3 words, k=3 → exactly one shingle per doc, df=40

    with pytest.raises(ValueError) as exc:
        ngram_jaccard_pairs(docs, "doc_id", "text", max_join_rows=779)
    assert "780" in str(exc.value)

    out = ngram_jaccard_pairs(docs, "doc_id", "text", max_join_rows=800)
    assert out.count() == 50  # top_n caps the 780 identical pairs


# --------------------------- SemDeDup candidate budget (VERDICT ask #1)
def _emb(spark, n: int, dim: int = 4):
    rows = [
        (i, [1.0] + [float((i * 3 + d) % 7 - 3) for d in range(dim - 1)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")


def test_semdedup_candidate_budget_refuses_by_default_shape(spark):
    """VERDICT r8 ask #1: one centroid → one 24-row cell → 276 candidate
    pairs; a 100-row budget must refuse NAMING the law and the largest
    cells, without touching max_cell."""
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = _emb(spark, 24)
    cents = emb.filter(F.col("vec_id") < 1)
    with pytest.raises(ValueError) as exc:
        semantic_dedup(emb, cents, threshold=0.9, max_candidates=100)
    msg = str(exc.value)
    assert "276" in msg  # exact Σ n(n−1)/2
    assert "O(n²/k)" in msg and "semdedup_auto_k" in msg
    assert "largest cells" in msg


def test_semdedup_budget_default_and_disable_are_value_neutral(spark):
    """The default budget never binds at test scale, and disabling the
    guard reproduces identical rows — the aggregate is plan-side only."""
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = _emb(spark, 30)
    cents = emb.filter(F.col("vec_id") % 10 == 0)
    got = semantic_dedup(emb, cents, threshold=0.9).collect()
    want = semantic_dedup(emb, cents, threshold=0.9, max_candidates=None).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) == 30


# -------------------------- completion modes for corpus-sized models (#2)
def test_rhp_auto_bits_growth_law():
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        rhp_auto_bits,
    )

    # the three rungs BASELINE discusses: 48-bit at 262k (the pinned
    # registered geometry's resolution point), 52 at 500k, 56 (14-bit
    # bands) at 1M — the prescription the 1M rung validated
    assert rhp_auto_bits(262_144, bands=4) == 48
    assert rhp_auto_bits(500_000, bands=4) == 52
    assert rhp_auto_bits(1_000_000, bands=4) == 56
    # floor: tiny corpora never go below RHP_MIN_BAND_BITS
    assert rhp_auto_bits(100, bands=4) == 32
    assert rhp_auto_bits(0, bands=2) == 16


def test_rhp_auto_equals_pinned_at_resolution_point(spark):
    """Parity of the auto path, proven where auto resolves to the pinned
    width: row_count_hint=262144 → 12-bit bands × 4 = n_bits=48, the
    registered a53 geometry — outputs must be IDENTICAL."""
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        rhp_near_duplicates,
    )

    rows = [
        (i, [float((i * 7 + d) % 5 - 2) for d in range(8)]) for i in range(40)
    ]
    rows[1] = (1, rows[0][1])  # one exact dup pair
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    auto = rhp_near_duplicates(
        emb, 0.5, n_bits="auto", bands=4, dim=8, row_count_hint=262_144
    ).collect()
    pinned = rhp_near_duplicates(emb, 0.5, n_bits=48, bands=4, dim=8).collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, pinned))
    assert any(r["vec_a"] == 0 and r["vec_b"] == 1 for r in pinned)

    with pytest.raises(ValueError):
        rhp_near_duplicates(emb, 0.5, n_bits="twelve", bands=4, dim=8)


def test_semdedup_auto_k_recipe():
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        semdedup_auto_k,
    )

    # the measured rungs: 512 at 1M (the geometry that completes), 256
    # at 500k; floor at SEMDEDUP_MIN_K for tiny corpora
    assert semdedup_auto_k(1_000_000) == 512
    assert semdedup_auto_k(500_000) == 256
    assert semdedup_auto_k(1_000) == 16
    assert semdedup_auto_k(0) == 16
