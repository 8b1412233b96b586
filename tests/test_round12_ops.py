"""Round-12 additions (VERDICT r11 asks #1/#2 + ADVICE r11): the RHP
escalation is now recall-aware and predict-then-confirm.

- probe cost: ~2 narrow signing passes beyond the law geometry instead
  of +1-bit stepping, same chosen width as the stepping loop;
- recall: the Charikar estimate at the chosen geometry is carried on
  the escalation record (and logged), ``min_recall`` prefers adding
  bands over widening bits, and refuses when budget and floor cannot
  both be met;
- the measured mass at the chosen geometry is REUSED by the in-operator
  guard (no redundant full signing pass in auto mode);
- the at-ceiling guard refusal prescribes bands/budget, not wider bands.
"""

from __future__ import annotations

import math

import pytest

from conftest import SF_DIR

from clinical_trials_data_pipeline_analyis_spark.operators import similarity
from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
    RHP_MAX_BAND_BITS,
    rhp_candidate_estimate,
    rhp_escalate_geometry,
    rhp_near_duplicates,
    rhp_recall_estimate,
)

_DIM = 64


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_recall_estimate_is_charikar_closed_form():
    """1 − (1 − q^bits)^bands with q = 1 − arccos(c)/π, and the
    monotonicities the escalation relies on: up in cosine and bands,
    down in band width."""
    q = 1.0 - math.acos(0.99) / math.pi
    assert rhp_recall_estimate(0.99, 14, 4) == pytest.approx(
        1.0 - (1.0 - q**14) ** 4
    )
    # The 5M-rung table's predicted values (measure_rhp_recall.py used
    # mean cosine 0.9908; at 0.99 the numbers shift in the 3rd decimal).
    assert rhp_recall_estimate(0.9908, 14, 4) == pytest.approx(0.9546, abs=5e-4)
    assert rhp_recall_estimate(0.9908, 19, 4) == pytest.approx(0.8956, abs=5e-4)
    assert rhp_recall_estimate(0.999, 14, 4) > rhp_recall_estimate(0.99, 14, 4)
    assert rhp_recall_estimate(0.99, 14, 5) > rhp_recall_estimate(0.99, 14, 4)
    assert rhp_recall_estimate(0.99, 15, 4) < rhp_recall_estimate(0.99, 14, 4)


def test_escalation_uses_at_most_two_probes_beyond_law(spark, monkeypatch):
    """On the clustered fixture, the predict-then-confirm walk must (a)
    probe at most twice beyond the initial law geometry and (b) choose
    exactly the width the +1-bit stepping loop would — the jumps are
    lower bounds, never overshoots (VERDICT r11 ask #2's Done)."""
    emb = _emb(spark)
    n = emb.count()
    budget = max(50, n // 2)

    calls = []
    real = similarity.rhp_candidate_estimate

    def counting(embeddings, n_bits, bands, *a, **k):
        calls.append((n_bits, bands))
        return real(embeddings, n_bits, bands, *a, **k)

    monkeypatch.setattr(similarity, "rhp_candidate_estimate", counting)
    geom = rhp_escalate_geometry(
        emb, 16, 2, max_candidates=budget, dim=_DIM
    )
    assert geom.fits and geom.escalated
    assert calls[0] == (16, 2)  # first probe IS the law geometry
    assert len(calls) <= 3  # initial + <=2 predict/confirm probes
    assert len(geom.probes) == len(calls)

    # Reference: the round-11 stepping loop, re-run independently.
    bb = 8
    while True:
        est = real(emb, bb * 2, 2, _DIM)
        if est is None or est <= budget or bb >= RHP_MAX_BAND_BITS:
            break
        bb += 1
    assert geom.n_bits == bb * 2


def test_unsatisfiable_budget_jumps_straight_to_ceiling(spark, monkeypatch):
    """ADVICE r11: the old loop walked +1 bit per full signing pass —
    up to ~22 serial corpus passes to the 30-bit ceiling. A budget no
    width can satisfy must now cost TWO probes: the law geometry, then
    the ceiling."""
    emb = _emb(spark)
    monkeypatch.setattr(similarity, "RHP_MAX_BAND_BITS", 3)
    geom = rhp_escalate_geometry(emb, 2, 2, max_candidates=0, dim=_DIM)
    assert geom.n_bits == 6 and not geom.fits
    assert len(geom.probes) == 2
    assert geom.probes[-1][0] == 3  # second probe is the ceiling itself


def test_escalation_record_carries_recall_and_law(spark):
    """The escalation result names the law start, the measured masses,
    every probe, and the Charikar recall at both geometries — the
    caller-visible signal VERDICT r11 ask #1 demanded."""
    emb = _emb(spark)
    n = emb.count()
    budget = max(50, n // 2)
    geom = rhp_escalate_geometry(
        emb, 16, 2, max_candidates=budget, dim=_DIM
    )
    assert geom.law_n_bits == 16 and geom.law_bands == 2
    assert geom.law_estimate > budget  # why it escalated
    assert geom.candidate_estimate <= budget
    # Wider bits at the same band count ⇒ recall strictly drops; the
    # record must expose the price.
    assert geom.recall_estimate < geom.law_recall_estimate
    assert geom.recall_cosine == similarity.RHP_RECALL_COSINE
    d = geom.describe()
    assert "law 16 bits x 2 bands" in d and "Charikar recall" in d


def test_auto_escalation_logs_the_geometry(spark, caplog, monkeypatch):
    """Auto mode must emit the warning naming law geometry, measured
    mass, chosen geometry, and recall estimate (ADVICE r11)."""
    import logging

    emb = _emb(spark)
    n = emb.count()
    budget = max(50, n // 2)
    monkeypatch.setattr(similarity, "RHP_TARGET_BUCKET", 2 * n)
    with caplog.at_level(
        logging.WARNING,
        logger="clinical_trials_data_pipeline_analyis_spark.similarity",
    ):
        rhp_near_duplicates(
            emb, 0.3, n_bits="auto", bands=2, dim=_DIM,
            max_candidates=budget,
        ).count()
    msgs = [r.getMessage() for r in caplog.records]
    assert any(
        "rhp auto escalation" in m and "Charikar recall" in m for m in msgs
    )
    assert similarity.LAST_ESCALATION is not None
    assert similarity.LAST_ESCALATION.fits


def test_auto_mode_reuses_probe_for_guard(spark, monkeypatch):
    """ADVICE r11: an auto call whose law geometry already fits paid a
    redundant second Σ n(n−1)/2 pass in the in-operator guard. Now the
    escalation's measured estimate is reused: exactly ONE narrow probe
    runs, and the operator completes."""
    emb = _emb(spark)
    calls = []
    real = similarity.rhp_candidate_estimate

    def counting(embeddings, n_bits, bands, *a, **k):
        calls.append((n_bits, bands))
        return real(embeddings, n_bits, bands, *a, **k)

    monkeypatch.setattr(similarity, "rhp_candidate_estimate", counting)
    out = rhp_near_duplicates(
        emb, 0.3, n_bits="auto", bands=2, dim=_DIM,
        max_candidates=10**9,  # law fits immediately
    )
    assert out.count() >= 0
    assert calls == [(16, 2)]  # the law probe, once — nothing else


def test_min_recall_prefers_bands_over_bits(spark):
    """When bit-widening alone would cross the recall floor, the search
    must ADD BANDS (the recall-preserving direction) and land a
    geometry meeting BOTH constraints (VERDICT r11 ask #1's Done)."""
    emb = _emb(spark)
    n = emb.count()
    budget = max(50, n // 2)
    # Without a floor, phase 1 chooses 2 bands at some width whose
    # recall at 0.99 is ~0.84-0.89 — below 0.93.
    base = rhp_escalate_geometry(emb, 16, 2, max_candidates=budget, dim=_DIM)
    assert base.bands == 2 and base.recall_estimate < 0.93
    geom = rhp_escalate_geometry(
        emb, 16, 2, max_candidates=budget, dim=_DIM, min_recall=0.93
    )
    assert geom.bands > 2
    assert geom.fits and geom.candidate_estimate <= budget
    assert geom.recall_estimate >= 0.93


def test_min_recall_flows_through_the_operator(spark):
    """Auto + min_recall through rhp_near_duplicates itself: the
    band-first geometry (MORE bands than requested) must be the one
    the signatures/join actually run at — the result equals a pinned
    call at the chosen geometry, and LAST_ESCALATION records it."""
    emb = _emb(spark)
    n = emb.count()
    budget = max(50, n // 2)
    auto = sorted(
        map(
            tuple,
            rhp_near_duplicates(
                emb, 0.3, n_bits="auto", bands=2, dim=_DIM,
                max_candidates=budget, min_recall=0.93,
            ).collect(),
        )
    )
    geom = similarity.LAST_ESCALATION
    assert geom.bands > 2 and geom.recall_estimate >= 0.93
    pinned = sorted(
        map(
            tuple,
            rhp_near_duplicates(
                emb, 0.3, n_bits=geom.n_bits, bands=geom.bands, dim=_DIM,
                max_candidates=budget,
            ).collect(),
        )
    )
    assert auto == pinned and auto


def test_min_recall_unachievable_refuses_loudly(spark, monkeypatch):
    """No geometry can hold 2x the corpus's all-pairs mass under a
    1-candidate budget AND 0.99 recall: the refusal must name both
    constraints and the remedies."""
    emb = _emb(spark)
    monkeypatch.setattr(similarity, "RHP_MAX_BANDS", 3)
    with pytest.raises(ValueError, match="meets BOTH the candidate budget"):
        rhp_escalate_geometry(
            emb, 16, 2, max_candidates=1, dim=_DIM, min_recall=0.999,
        )


def test_min_recall_validates_pinned_geometry(spark):
    """Pinned geometry + min_recall: validate-or-refuse, never adjust.
    20-bit x 2 bands at cosine 0.99 estimates ~0.66 recall — below a
    0.9 floor; 8-bit x 2 clears it."""
    emb = _emb(spark)
    with pytest.raises(ValueError, match="below min_recall"):
        rhp_near_duplicates(
            emb, 0.3, n_bits=40, bands=2, dim=_DIM, min_recall=0.9
        )
    assert (
        rhp_near_duplicates(
            emb, 0.3, n_bits=16, bands=2, dim=_DIM, min_recall=0.9
        ).count()
        >= 0
    )


def test_ngram_refusal_prescribes_concrete_max_df(spark):
    """VERDICT r11 ask #8: the guard now reads the df histogram, so the
    refusal can prescribe the max_df that fits the budget at the
    measured df distribution (the way the RHP refusal prescribes
    bits/bands). 10 copies of one doc (one shingle, df=10 → 45 join
    rows) + 3 copies of another (df=3 → 3 rows): a 40-row budget must
    refuse naming 48 total and prescribe max_df=3 — and that
    prescription must actually run."""
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(10)]
        + [(100 + i, "delta epsilon zeta") for i in range(3)],
        "doc_id LONG, text STRING",
    )
    with pytest.raises(ValueError) as exc:
        ngram_jaccard_pairs(docs, "doc_id", "text", max_join_rows=40)
    msg = str(exc.value)
    assert "48" in msg and "max_df=3" in msg and "minhash" in msg
    out = ngram_jaccard_pairs(
        docs, "doc_id", "text", max_df=3, max_join_rows=40
    )
    assert out.count() == 3  # the df=3 trio's pairs survive the cap


def test_lsh_guard_counts_exact_join_rows(spark):
    """Round 12 closes the family symmetry: MinHash was the one
    candidate generator without an exact-count budget. 40 identical
    docs collide in every band: 4 bands x 40·39/2 = 3,120 join rows —
    a 3,119 budget refuses naming the count and the exact-dedup-first
    remedy; 3,120 runs; the guard is values-neutral."""
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(40)],
        "doc_id LONG, text STRING",
    )
    sigs = minhash_signatures(docs, "doc_id", "text")
    with pytest.raises(ValueError) as exc:
        lsh_candidate_pairs(sigs, "doc_id", max_candidates=3_119)
    msg = str(exc.value)
    assert "3,120" in msg and "exact_duplicates" in msg and "recall" in msg

    key = lambda r: (r["doc_a"], r["doc_b"])  # noqa: E731
    guarded = sorted(
        map(
            key,
            lsh_candidate_pairs(
                sigs, "doc_id", max_candidates=3_120
            ).collect(),
        )
    )
    unguarded = sorted(
        map(
            key,
            lsh_candidate_pairs(
                sigs, "doc_id", max_candidates=None
            ).collect(),
        )
    )
    assert guarded == unguarded and len(guarded) == 40 * 39 // 2


def test_lsh_auto_banding_is_recall_max_within_budget(spark, caplog):
    """bands='auto' probes finest-first and takes the first fitting
    banding — the recall-maximal geometry within the budget. 40
    identical docs measure 6240/3120/1560/780 candidate rows at
    8/4/2/1 bands; a 2,000 budget must choose 2 bands and equal the
    pinned 2-band call; an ample budget chooses the finest; an
    unsatisfiable one refuses naming exact-dedup-first."""
    import logging

    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(40)],
        "doc_id LONG, text STRING",
    )
    sigs = minhash_signatures(docs, "doc_id", "text")
    key = lambda r: (r["doc_a"], r["doc_b"])  # noqa: E731
    with caplog.at_level(
        logging.WARNING,
        logger="clinical_trials_data_pipeline_analyis_spark.dedup",
    ):
        auto = sorted(
            map(
                key,
                lsh_candidate_pairs(
                    sigs, "doc_id", bands="auto", max_candidates=2_000
                ).collect(),
            )
        )
    assert any("2 bands x 4 rows" in r.getMessage() for r in caplog.records)
    pinned = sorted(
        map(
            key,
            lsh_candidate_pairs(
                sigs, "doc_id", bands=2, max_candidates=2_000
            ).collect(),
        )
    )
    assert auto == pinned and len(auto) == 40 * 39 // 2

    finest = lsh_candidate_pairs(
        sigs, "doc_id", bands="auto", max_candidates=10_000
    )
    assert finest.count() == 40 * 39 // 2  # 8x1 banding fits and runs

    with pytest.raises(ValueError, match="no banding"):
        lsh_candidate_pairs(
            sigs, "doc_id", bands="auto", max_candidates=500
        )


def test_ngram_auto_max_df_applies_the_prescription(spark, caplog):
    """max_df='auto' must COMPLETE where the pinned guard refuses, at
    exactly the max_df the refusal prescribes — and leave the corpus
    untouched when nothing binds."""
    import logging

    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(10)]
        + [(100 + i, "delta epsilon zeta") for i in range(3)],
        "doc_id LONG, text STRING",
    )
    key = lambda r: (r["doc_a"], r["doc_b"], r["jaccard"])  # noqa: E731
    with caplog.at_level(
        logging.WARNING,
        logger="clinical_trials_data_pipeline_analyis_spark.dedup",
    ):
        auto = sorted(
            map(
                key,
                ngram_jaccard_pairs(
                    docs, "doc_id", "text", max_df="auto", max_join_rows=40
                ).collect(),
            )
        )
    assert any("max_df=3" in r.getMessage() for r in caplog.records)
    pinned = sorted(
        map(
            key,
            ngram_jaccard_pairs(
                docs, "doc_id", "text", max_df=3, max_join_rows=40
            ).collect(),
        )
    )
    assert auto == pinned and len(auto) == 3

    unbound = sorted(
        map(
            key,
            ngram_jaccard_pairs(
                docs, "doc_id", "text", max_df="auto", max_join_rows=1_000
            ).collect(),
        )
    )
    plain = sorted(
        map(
            key,
            ngram_jaccard_pairs(
                docs, "doc_id", "text", max_join_rows=1_000
            ).collect(),
        )
    )
    assert unbound == plain and len(plain) > 3  # df=10 family included


def _simhash_fp(spark, rows):
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        simhash,
    )

    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    return simhash(docs, "doc_id", "text")


def test_simhash_rescue_reconnects_capped_identical_family(spark):
    """The recall fixture measured the hot-bucket cap costing exact
    duplicates 25 points at cap=100: an identical-document family IS a
    hot bucket in both halves. rescue_identical must re-connect the
    family with LINEAR star edges to its minimum id (never the O(m²)
    pair list), hamming=0."""
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        simhash_near_duplicates,
    )

    rows = [(i, "alpha beta gamma delta epsilon") for i in range(300)] + [
        (1000 + i, f"w{i} x{i} y{i} z{i} q{i}") for i in range(20)
    ]
    fp = _simhash_fp(spark, rows)
    capped = simhash_near_duplicates(fp, "doc_id", max_bucket=100).collect()
    assert not any(r["doc_a"] < 300 and r["doc_b"] < 300 for r in capped)

    rescued = simhash_near_duplicates(
        fp, "doc_id", max_bucket=100, rescue_identical=True
    ).collect()
    fam = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in rescued
        if r["doc_a"] < 300 and r["doc_b"] < 300
    }
    assert fam == {(0, j, 0) for j in range(1, 300)}  # star, not clique


def test_simhash_rescue_is_a_subset_restorer(spark):
    """Star edges are a subset of the uncapped candidate set, so the
    flag must change NOTHING when the cap doesn't bind — and it is a
    no-op without a cap."""
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        simhash_near_duplicates,
    )

    rows = [(i, "alpha beta gamma delta epsilon") for i in range(20)] + [
        (100 + i, f"w{i} x{i} y{i} z{i} q{i}") for i in range(10)
    ]
    fp = _simhash_fp(spark, rows)
    key = lambda r: (r["doc_a"], r["doc_b"], r["hamming"])  # noqa: E731
    base = sorted(map(key, simhash_near_duplicates(fp, "doc_id").collect()))
    unbound_cap = sorted(
        map(
            key,
            simhash_near_duplicates(
                fp, "doc_id", max_bucket=1000, rescue_identical=True
            ).collect(),
        )
    )
    no_cap = sorted(
        map(
            key,
            simhash_near_duplicates(
                fp, "doc_id", rescue_identical=True
            ).collect(),
        )
    )
    assert base == unbound_cap == no_cap and base


def test_semantic_dedup_multiprobe_recovers_boundary_pair(spark):
    """The cell-recall harness measured single-assignment missing 19%
    of dup pairs at auto-k (boundary straddle). probes=2 must scan a
    straddling pair together: v1's primary cell is c1, v2's is c2,
    cosine(v1, v2) ≈ 1 — probes=1 never compares them (2 components,
    2 kept), probes=2 merges them (1 component, 1 kept)."""
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.99, 0.0, 0.0]),
            (2, [0.99, 1.0, 0.0, 0.0]),
            (3, [0.0, 0.0, 1.0, 0.0]),  # far singleton
        ],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    cents = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (200, [0.0, 1.0, 0.0, 0.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    p1 = {r["vec_id"]: r for r in semantic_dedup(emb, cents, 0.95).collect()}
    assert p1[1]["component"] != p1[2]["component"]
    assert p1[1]["kept"] == 1 and p1[2]["kept"] == 1

    p2 = {
        r["vec_id"]: r
        for r in semantic_dedup(emb, cents, 0.95, probes=2).collect()
    }
    assert p2[1]["component"] == p2[2]["component"]
    assert p2[1]["kept"] + p2[2]["kept"] == 1
    # The far singleton is untouched by probing.
    assert p2[3]["kept"] == 1 and p2[3]["component"] == p1[3]["component"]


def test_semantic_dedup_warns_on_percolation(spark, caplog):
    """The 500k legs showed a weak threshold percolating the CC (one
    giant component — SemDeDup would drop everything). The operator
    must WARN when the largest component passes 20% of the corpus,
    and stay silent on healthy fixtures."""
    import logging

    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        semantic_dedup,
    )

    # Every vector near-identical: one component = 100% of the corpus.
    emb = spark.createDataFrame(
        [(i, [1.0, 0.001 * i, 0.0, 0.0]) for i in range(20)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    cents = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    logname = "clinical_trials_data_pipeline_analyis_spark.similarity"
    with caplog.at_level(logging.WARNING, logger=logname):
        semantic_dedup(emb, cents, 0.5).count()
    assert any("percolating" in r.getMessage() for r in caplog.records)

    caplog.clear()
    from pyspark.sql import functions as F

    sparse = _emb(spark)
    scents = sparse.filter(F.col("vec_id") % 97 == 0)
    with caplog.at_level(logging.WARNING, logger=logname):
        semantic_dedup(sparse, scents, 0.95, dim=_DIM).count()
    assert not any("percolating" in r.getMessage() for r in caplog.records)


def test_semantic_dedup_multiprobe_only_merges(spark):
    """Extra probes only ADD candidate edges: on the fixture corpus the
    probes=2 components must be a coarsening of probes=1 (never split;
    kept count never rises)."""
    from pyspark.sql import functions as F

    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = _emb(spark)
    cents = emb.filter(F.col("vec_id") % 97 == 0)
    p1 = semantic_dedup(emb, cents, 0.8, dim=_DIM).collect()
    p2 = semantic_dedup(emb, cents, 0.8, dim=_DIM, probes=2).collect()
    comp1 = {r["vec_id"]: r["component"] for r in p1}
    comp2 = {r["vec_id"]: r["component"] for r in p2}
    # coarsening: same p1-component => same p2-component
    by_c1: dict[int, set[int]] = {}
    for v, c in comp1.items():
        by_c1.setdefault(c, set()).add(comp2[v])
    assert all(len(s) == 1 for s in by_c1.values())
    kept1 = sum(r["kept"] for r in p1)
    kept2 = sum(r["kept"] for r in p2)
    assert kept2 <= kept1
    # cos_centroid is the PRIMARY cell's in both modes
    cc1 = {r["vec_id"]: r["cos_centroid"] for r in p1}
    cc2 = {r["vec_id"]: r["cos_centroid"] for r in p2}
    assert cc1 == cc2


def test_at_ceiling_refusal_prescribes_bands_not_bits(spark, monkeypatch):
    """ADVICE r11: when bands are already at the RHP_MAX_BAND_BITS
    ceiling, 'raise n_bits' is a circle — the refusal must prescribe
    bands or budget instead. Ceiling monkeypatched down so the tiny
    fixture still has bucket mass at the 'ceiling' width."""
    emb = _emb(spark)
    monkeypatch.setattr(similarity, "RHP_MAX_BAND_BITS", 4)
    with pytest.raises(ValueError, match="Add BANDS"):
        rhp_near_duplicates(
            emb, 0.3, n_bits=8, bands=2, dim=_DIM, max_candidates=0
        ).count()
