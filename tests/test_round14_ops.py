"""Round-14 hardening tests.

Theme 1 — the SimHash hot-bucket cap's recall consequence lives ON the
operator (VERDICT r13 ask #4): a binding ``max_bucket`` logs the skipped
candidate-pair mass and the INVISIBLE-document fraction (both halves
capped — zero candidates pre-rescue), and ``min_visible`` is the
matching refusal floor, completing the ``min_recall`` family symmetry.

Theme 2 — the SimHash streaming twin warns BEFORE the budget refusal
(VERDICT r13 ask #5): the per-epoch budget aggregate also projects the
next epoch's candidate mass against the post-append store and logs past
80% of the budget, naming the MinHash twin.

Plus three r13 ADVICE items: bands validated before the min_recall
floor; the foreachBatch assignment's ``probes`` pinned on the sink (it
changes the sink schema); the percolation prescription quoting the
histogram bucket's UPPER edge.
"""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

_DEDUP_LOGGER = "clinical_trials_data_pipeline_analyis_spark.operators.dedup"


# --------------------------------------------------------------------
# ADVICE #1: bands sanity precedes the min_recall floor
# --------------------------------------------------------------------


def test_lsh_bands_validated_before_min_recall(spark):
    """bands=0 must raise the banding error, not ZeroDivisionError
    inside the recall formula; a non-divisor banding must raise the
    banding error, not a floored-rows recall refusal."""
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(i, f"some text about topic {i} with shared words") for i in range(6)],
        ["doc_id", "text"],
    )
    sigs = minhash_signatures(docs, "doc_id", "text")
    for bad in (0, -2, 3):  # 3 does not divide the default 8 hashes
        with pytest.raises(ValueError, match="positive divisor"):
            lsh_candidate_pairs(sigs, "doc_id", bands=bad, min_recall=0.9)
        with pytest.raises(ValueError, match="positive divisor"):
            lsh_candidate_pairs(sigs, "doc_id", bands=bad)


def test_rhp_bands_validated_before_min_recall(spark, tmp_path):
    """RHP shares the LSH banding check: bands=0 used to raise
    ZeroDivisionError and bands=-2 an opaque Spark AnalysisException.
    The batch operator refuses before any recall floor; the stream
    refuses at construction, before its first epoch could pin the bad
    geometry in the store's sidecar."""
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        rhp_near_duplicates,
    )
    from clinical_trials_data_pipeline_analyis_spark.streaming import (
        rhp_near_dedup_stream,
    )

    schema = "vec_id LONG, embedding ARRAY<DOUBLE>"
    emb = spark.createDataFrame(
        [(i, [1.0, 0.0, float(i), 0.5]) for i in range(4)], schema
    )
    src = tmp_path / "empty_src"
    src.mkdir()
    stream = spark.readStream.schema(schema).parquet(str(src))
    store = tmp_path / "store"
    for bad in (0, -2, 3):  # 3 does not divide n_bits=8
        with pytest.raises(ValueError, match="positive divisor"):
            rhp_near_duplicates(emb, 0.9, n_bits=8, bands=bad, dim=4)
        with pytest.raises(ValueError, match="positive divisor"):
            rhp_near_duplicates(
                emb, 0.9, n_bits=8, bands=bad, dim=4, min_recall=0.5
            )
    for bad in (0, -2):  # auto sizes n_bits as a multiple of bands
        with pytest.raises(ValueError, match="positive divisor"):
            rhp_near_duplicates(
                emb, 0.9, n_bits="auto", bands=bad, dim=4, max_candidates=100
            )
    for bad in (0, -2, 3):
        with pytest.raises(ValueError, match="positive divisor"):
            rhp_near_dedup_stream(
                stream, out_path=str(tmp_path / "out"),
                store_path=str(store), checkpoint=str(tmp_path / "ckpt"),
                threshold=0.9, n_bits=8, bands=bad, dim=4,
            )
    assert not store.exists()


def test_auto_modes_share_the_budget_refusal(spark):
    """Every 'auto' geometry sizes against a budget, so each refuses
    without one, in the same words: bands='auto', max_df='auto' and
    n_bits='auto' (which used to run the n-only sizing law unchecked)."""
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        rhp_near_duplicates,
    )

    docs = spark.createDataFrame(
        [(i, f"some text about topic {i}") for i in range(4)],
        ["doc_id", "text"],
    )
    emb = spark.createDataFrame(
        [(i, [1.0, 0.0, float(i), 0.5]) for i in range(4)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    with pytest.raises(
        ValueError, match="n_bits='auto' needs a max_candidates budget"
    ):
        rhp_near_duplicates(
            emb, 0.9, n_bits="auto", bands=2, dim=4, max_candidates=None
        )
    with pytest.raises(
        ValueError, match="bands='auto' needs a max_candidates budget"
    ):
        lsh_candidate_pairs(
            minhash_signatures(docs, "doc_id", "text"), "doc_id",
            bands="auto", max_candidates=None,
        )
    with pytest.raises(
        ValueError, match="max_df='auto' needs a max_join_rows budget"
    ):
        ngram_jaccard_pairs(
            docs, "doc_id", "text", max_df="auto", max_join_rows=None
        )


# --------------------------------------------------------------------
# Ask #4: the cap-consequence probe
# --------------------------------------------------------------------


def _hot_fixture(spark):
    """23 docs: 10 with an identical fingerprint (both halves hot at
    cap=3 — INVISIBLE), 5 sharing only the lo half (lo hot, hi fine —
    visible), 8 with unique halves (visible)."""
    rows = []
    hot = (7 << 16) | 7
    for i in range(10):
        rows.append((i, hot))
    for i in range(10, 15):
        rows.append((i, ((100 + i) << 16) | 9))  # shared lo=9, unique hi
    for i in range(15, 23):
        rows.append((i, ((200 + i) << 16) | (300 + i)))
    return spark.createDataFrame(rows, ["doc_id", "simhash"])


def test_simhash_cap_probe_warns_with_exact_numbers(spark, caplog):
    """A binding cap logs the skipped mass and invisible-doc count —
    both checked against the brute-force fixture arithmetic."""
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        simhash_candidates,
    )

    df = _hot_fixture(spark)
    with caplog.at_level(logging.WARNING, logger=_DEDUP_LOGGER):
        simhash_candidates(df, "doc_id", max_bucket=3)
    msgs = [
        r.getMessage() for r in caplog.records if "simhash cap binding" in r.message
    ]
    assert msgs, caplog.records
    m = msgs[0]
    # fixture arithmetic: lo masses 45 (hot) + 10 (shared-lo) skipped,
    # hi mass 45 (hot) skipped; total mass 100, all skipped
    assert "skips 1.0000 of the candidate-pair mass" in m
    assert "100 of 100 half-bucket pairs" in m
    # 10 of 23 docs have BOTH halves capped
    assert "10 of 23 docs" in m
    assert "MinHash-LSH" in m
    # max bucket occupancy 10 -> the prescribed unbinding cap
    assert "max_bucket >= 10 would unbind" in m


def test_simhash_min_visible_floor(spark):
    """min_visible refuses below the measured doc-visibility fraction
    (13/23 here), prescribing the unbinding cap, the rescue flags, and
    the MinHash-LSH route; a satisfiable floor changes nothing; the
    floor without a cap is refused as vacuous."""
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        simhash_candidates,
        simhash_near_duplicates,
    )

    df = _hot_fixture(spark)
    with pytest.raises(ValueError, match="min_visible=0.9"):
        simhash_candidates(df, "doc_id", max_bucket=3, min_visible=0.9)
    try:
        simhash_candidates(df, "doc_id", max_bucket=3, min_visible=0.9)
    except ValueError as e:
        s = str(e)
        assert "0.5652" in s  # 13/23 visible
        assert ">= 10 unbinds" in s
        assert "rescue_identical+rescue_near" in s
        assert "MinHash-LSH" in s
    # the public verified surface forwards the floor
    with pytest.raises(ValueError, match="min_visible"):
        simhash_near_duplicates(
            df, "doc_id", 6, max_bucket=3, min_visible=0.9
        )
    # satisfiable floor: plan builds, values equal the no-floor run
    ok = simhash_candidates(
        df, "doc_id", max_bucket=3, min_visible=0.5
    )
    base = simhash_candidates(df, "doc_id", max_bucket=3)
    assert sorted(map(tuple, ok.collect())) == sorted(
        map(tuple, base.collect())
    )
    with pytest.raises(ValueError, match="vacuously"):
        simhash_candidates(df, "doc_id", min_visible=0.9)
    with pytest.raises(ValueError, match="in \\(0, 1\\]"):
        simhash_candidates(df, "doc_id", max_bucket=3, min_visible=1.5)


def test_simhash_max_hamming_must_be_an_int_in_range(spark):
    """The rescue joins splice max_hamming into SQL text while the main
    band join compares the value itself, so a non-int threshold would
    select different pairs on the two paths (-0.5 admits hamming-0
    rescue pairs and no main-join pairs). It is refused up front."""
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        simhash_near_duplicates,
    )

    df = _hot_fixture(spark)
    for bad in (-0.5, 2.5, float("nan"), float("inf"), True, -1, 65, "6"):
        with pytest.raises(ValueError, match="max_hamming must be an int"):
            simhash_near_duplicates(
                df, "doc_id", bad, max_bucket=3, rescue_near=True
            )
    for ok in (0, 64):
        rows = simhash_near_duplicates(
            df, "doc_id", ok, max_bucket=3, rescue_near=True
        ).collect()
        assert all(r["hamming"] <= ok for r in rows)


def test_simhash_cap_probe_silent_when_cap_does_not_bind(spark, caplog):
    """An unbinding cap must not log."""
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        simhash_candidates,
    )

    df = _hot_fixture(spark)
    with caplog.at_level(logging.WARNING, logger=_DEDUP_LOGGER):
        simhash_candidates(df, "doc_id", max_bucket=100)
    assert not [r for r in caplog.records if "simhash cap binding" in r.message]


# --------------------------------------------------------------------
# ADVICE #2: probes pinned on the foreachBatch assignment sink
# --------------------------------------------------------------------


def test_assign_foreach_batch_probes_pinned(spark, tmp_path):
    """Restarting an existing sink with a different probes must fail
    the stream loudly (probes changes the sink schema — rank exists
    only at probes>1; mixed epoch partitions would resolve
    inconsistently)."""
    import json as _json

    from pyspark.errors import StreamingQueryException

    from conftest import SF_DIR
    from clinical_trials_data_pipeline_analyis_spark.streaming import (
        assign_cells_foreach_batch,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
        F.col("vec_id") < 50
    )
    cent_path = str(tmp_path / "centroids")
    emb.filter(F.col("vec_id") % 10 == 0).write.parquet(cent_path)
    src = tmp_path / "emb_stream"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        for r in emb.select("vec_id", "embedding").collect():
            f.write(
                _json.dumps(
                    {"vec_id": r["vec_id"], "embedding": list(r["embedding"])}
                )
                + "\n"
            )

    def run(probes, ckpt):
        stream = spark.readStream.schema(
            "vec_id LONG, embedding ARRAY<FLOAT>"
        ).json(str(src))
        q = assign_cells_foreach_batch(
            stream, cent_path, str(tmp_path / "out"),
            str(tmp_path / ckpt), probes=probes,
        ).start()
        q.awaitTermination(120)

    run(1, "ckpt1")
    out = spark.read.parquet(str(tmp_path / "out"))
    assert "rank" not in out.columns and out.count() > 0
    with pytest.raises(StreamingQueryException, match="probes"):
        run(2, "ckpt2")
    # same probes restarts fine (fresh checkpoint reprocesses the file)
    run(1, "ckpt3")


# --------------------------------------------------------------------
# ADVICE #3: the percolation prescription quotes the bucket UPPER edge
# --------------------------------------------------------------------


def test_percolation_prescription_quotes_upper_edge(spark, caplog):
    """The prescribed threshold is t_fix + 0.005 — the upper edge of
    the last rounded-cosine bucket keeping <= n/2 edges — so the kept
    mass is provably at or below what the heuristic counted."""
    import math
    import random
    import re

    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        semantic_dedup,
    )

    rng = random.Random(5)
    base = [rng.uniform(-1, 1) for _ in range(8)]
    nb = math.sqrt(sum(x * x for x in base))
    base = [x / nb for x in base]
    rows = [
        (i, [x + 0.02 * i * (1 if j % 2 else -1) for j, x in enumerate(base)])
        for i in range(30)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = emb.filter(F.col("vec_id") % 10 == 0)
    with caplog.at_level(
        logging.WARNING,
        logger="clinical_trials_data_pipeline_analyis_spark.operators.similarity",
    ):
        semantic_dedup(emb, cents, threshold=0.5, dim=8)
    msgs = [r.message for r in caplog.records if "percolating" in r.message]
    assert msgs, caplog.records
    m = re.search(r"suggests threshold >= (0\.\d{3})", msgs[0])
    if m:  # the dense-corpus fallback branch carries no number
        # a 3-decimal value ending in 5: a bucket EDGE, not a center
        assert m.group(1).endswith("5")
        assert "upper edge" in msgs[0]


# --------------------------------------------------------------------
# 16-component MinHash signatures: the min_recall refusal's "re-sign
# with more hashes" prescription must be an action the library can take
# --------------------------------------------------------------------


def test_minhash_16_components_extend_8(spark):
    """num_hashes=16 yields h0..h15 with h0..h7 byte-identical to the
    num_hashes=8 signatures (prior geometries — including streaming
    stores' pinned ones — stay valid), and the widened signature drives
    the candidate join end-to-end."""
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(i, f"document {i} shares a moderately long common phrase "
             f"with topic {i % 3}") for i in range(12)]
        + [(100, "document 0 shares a moderately long common phrase "
                 "with topic 0")],
        ["doc_id", "text"],
    )
    s8 = {r["doc_id"]: r for r in minhash_signatures(
        docs, "doc_id", "text").collect()}
    s16 = {r["doc_id"]: r for r in minhash_signatures(
        docs, "doc_id", "text", num_hashes=16).collect()}
    assert set(s16[0].asDict()) == {"doc_id", *{f"h{i}" for i in range(16)}}
    for d, r8 in s8.items():
        for i in range(8):
            assert s16[d][f"h{i}"] == r8[f"h{i}"]
    # widened signature: 8 bands x 2 rows candidate join runs and finds
    # the planted exact dup (identical text => identical signatures)
    sigs16 = minhash_signatures(docs, "doc_id", "text", num_hashes=16)
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(
            sigs16, "doc_id", num_hashes=16, bands=8
        ).collect()
    }
    assert (0, 100) in pairs

    for bad in (0, -1, 17, 32):
        with pytest.raises(ValueError, match="1..16 components"):
            minhash_signatures(docs, "doc_id", "text", num_hashes=bad)


def test_lsh_refusal_at_16_names_the_ceiling(spark):
    """At num_hashes=16 the auto min_recall refusal must NOT prescribe
    a 32-hash re-sign the scheme cannot deliver — it names the
    16-component ceiling instead."""
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    text = "every document is this exact same template text"
    docs = spark.createDataFrame(
        [(i, text) for i in range(30)], ["doc_id", "text"]
    )
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=16)
    # identical docs collide at EVERY banding: the 1x16 mass (435) is
    # the floor of every banding's mass, so budget=435 forces 1 band x
    # 16 rows, whose recall 0.84^16 is far below 0.9
    with pytest.raises(ValueError, match="16-component ceiling"):
        lsh_candidate_pairs(
            sigs, "doc_id", num_hashes=16, bands="auto",
            max_candidates=435, min_recall=0.9,
        )


# --------------------------------------------------------------------
# Optional #8: depth-2 rescue (implemented — the measured curve
# justified it: rescue_depth2_r14.json, 0.8722 -> 0.9842 at cap=100)
# --------------------------------------------------------------------


def _sh_mirror_depth2(fps: dict[int, int], cap: int, h: int) -> dict[str, set]:
    """Pure-Python mirror of simhash_near_duplicates(max_bucket=cap,
    rescue_identical=True, rescue_near=True, rescue_depth=2), layer by
    layer — the level-2 arithmetic exactly as the operator documents
    it (w2 from the sub-bucket's fingerprint count via the same
    smallest-width rule; two w2-bit windows of the other half not
    consumed by the arm's level-1 key; re-capped at fp level)."""
    from collections import Counter, defaultdict

    def ham(a, b):
        return bin(a ^ b).count("1")

    def smallest_w(n):
        w = 0
        while n > cap * (2 ** w) and w < 16:
            w += 1
        return w

    half_fns = {
        "lo": (lambda v: v % 65536, lambda v: (v >> 16) & 65535),
        "hi": (lambda v: (v >> 16) & 65535, lambda v: v % 65536),
    }
    banded, rescue1, rescue2 = set(), set(), set()
    for half_of, other_of in half_fns.values():
        hist = Counter(half_of(v) for v in fps.values())
        buckets = defaultdict(list)
        for i, v in fps.items():
            buckets[half_of(v)].append((i, v))
        for half, members in buckets.items():
            if hist[half] <= cap:
                for ia, va in members:
                    for ib, vb in members:
                        if ia < ib and ham(va, vb) <= h:
                            banded.add((ia, ib, ham(va, vb)))
                continue
            fam = defaultdict(list)
            for i, v in members:
                fam[v].append(i)
            hubs = [(min(ids), v) for v, ids in fam.items()]
            w = smallest_w(len(hubs))
            for j, sub_fn in enumerate((
                lambda o: o & ((1 << w) - 1),
                lambda o: (o >> (16 - w)) & ((1 << w) - 1),
            )):
                if j == 1 and not 1 <= w <= 15:
                    continue
                groups = defaultdict(list)
                for hub, v in hubs:
                    groups[sub_fn(other_of(v))].append((hub, v))
                for g in groups.values():
                    if len(g) <= cap:
                        for ha, va in g:
                            for hb, vb in g:
                                if ha < hb and ham(va, vb) <= h:
                                    rescue1.add((ha, hb, ham(va, vb)))
                        continue
                    w2 = smallest_w(len(g))
                    shifts = (
                        (w, 16 - w2) if j == 0
                        else (0, max(0, 16 - w2 - w))
                    )
                    for s in shifts:
                        g2s = defaultdict(list)
                        for hub, v in g:
                            g2s[
                                (other_of(v) >> s) & ((1 << w2) - 1)
                            ].append((hub, v))
                        for g2 in g2s.values():
                            if len(g2) > cap:
                                continue
                            for ha, va in g2:
                                for hb, vb in g2:
                                    if ha < hb and ham(va, vb) <= h:
                                        rescue2.add(
                                            (ha, hb, ham(va, vb))
                                        )
    star = set()
    fam = defaultdict(list)
    for i, v in fps.items():
        fam[v].append(i)
    for v, ids in fam.items():
        hub = min(ids)
        star.update((hub, i, 0) for i in ids if i != hub)
    return {
        "banded": banded, "star": star,
        "rescue1": rescue1, "rescue2": rescue2,
    }


def _depth2_fixture() -> dict[int, int]:
    """36 docs sharing the lo half 7 (hot at cap=3): 12 whose other
    halves share low-4-bit pattern 5 — a level-1 sub-bucket of 12
    distinct fps (> cap) that level 2 splits on bits [4,6) into groups
    of 3; 22 across other low-4 patterns in groups of <= 3 (level-1
    rescues); one identical pair (star)."""
    fps = {}
    i = 0
    for t in range(4):          # level-2 groups (bits 4-5)
        for u in range(3):      # members (bits 6-7)
            o = 5 | (t << 4) | (u << 6)
            fps[i] = (o << 16) | 7
            i += 1
    for p in range(12):         # level-1 sub-buckets
        if p == 5:
            continue
        for q in range(2):
            o = p | (q << 4) | (1 << 8)
            fps[i] = (o << 16) | 7
            i += 1
    fps[100] = (0x4321 << 16) | 7
    fps[101] = fps[100]
    return fps


def test_simhash_rescue_depth2_matches_brute_force(spark):
    """Exact-set equality of the depth-2 operator against the mirror,
    with non-vacuity: level 2 fires and contributes pairs no other
    layer produces; depth 2 is a superset of depth 1."""
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        simhash_near_duplicates,
    )

    cap, h = 3, 6
    fps = _depth2_fixture()
    df = spark.createDataFrame(
        [(i, v) for i, v in fps.items()], ["doc_id", "simhash"]
    )
    mirror = _sh_mirror_depth2(fps, cap, h)
    lower = mirror["banded"] | mirror["star"] | mirror["rescue1"]
    want2 = lower | mirror["rescue2"]
    assert mirror["rescue2"] - lower  # level 2 contributes

    got1 = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_near_duplicates(
            df, "doc_id", h, max_bucket=cap,
            rescue_identical=True, rescue_near=True,
        ).collect()
    }
    got2 = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_near_duplicates(
            df, "doc_id", h, max_bucket=cap,
            rescue_identical=True, rescue_near=True, rescue_depth=2,
        ).collect()
    }
    assert got1 == lower
    assert got2 == want2
    assert got1 < got2  # strict superset


def test_rescue_depth_validation(spark):
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        simhash_candidates,
    )

    df = spark.createDataFrame([(1, 7), (2, 7)], ["doc_id", "simhash"])
    with pytest.raises(ValueError, match="rescue_depth must be 1 or 2"):
        simhash_candidates(
            df, "doc_id", max_bucket=3, rescue_near=True, rescue_depth=3
        )
    with pytest.raises(ValueError, match="rescue_near=True"):
        simhash_candidates(
            df, "doc_id", max_bucket=3, rescue_depth=2
        )


# --------------------------------------------------------------------
# 16-hash geometry through the streaming twin + the construction-time
# min_recall floor (batch/stream symmetry)
# --------------------------------------------------------------------


def test_minhash_stream_16hash_matches_batch(spark, tmp_path):
    """The widened 16-component signatures drive the streaming twin
    end-to-end (geometry pinned through the sidecar at num_hashes=16,
    bands=8) and the flags equal the batch operator's doc_b set at the
    same geometry."""
    from conftest import SF_DIR
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from clinical_trials_data_pipeline_analyis_spark.streaming import (
        near_dedup_docs_stream,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    chunks = str(tmp_path / "chunks")
    n = docs.count()
    half = n // 2
    docs.filter(F.col("doc_id") < half).coalesce(1).write.parquet(f"{chunks}/c1")
    docs.filter(F.col("doc_id") >= half).coalesce(1).write.parquet(f"{chunks}/c2")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{chunks}/c*")
    )
    q = near_dedup_docs_stream(
        stream,
        out_path=str(tmp_path / "flags"),
        store_path=str(tmp_path / "store"),
        checkpoint=str(tmp_path / "ckpt"),
        num_hashes=16,
        bands=8,
    ).start()
    q.awaitTermination(180)

    got = {
        r["doc_id"]: r["is_near_dup"]
        for r in spark.read.parquet(str(tmp_path / "flags")).collect()
    }
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=16)
    dup = {
        r["doc_b"]
        for r in lsh_candidate_pairs(
            sigs, "doc_id", num_hashes=16, bands=8
        ).collect()
    }
    assert len(got) == n and dup  # non-vacuous
    assert {d for d, f in got.items() if f} == dup
    # the sidecar pinned the widened geometry
    import json as _json

    meta = _json.load(open(f"{tmp_path}/store/_minhash_geometry"))
    assert meta == {"num_hashes": 16, "bands": 8, "shingle_k": 3}


def test_minhash_stream_min_recall_floor_at_construction(spark, tmp_path):
    """A pinned stream geometry below the floor refuses at
    CONSTRUCTION (before any epoch/sidecar write) with the re-sign
    prescription; a satisfiable floor constructs; bad bands get the
    banding error."""
    from clinical_trials_data_pipeline_analyis_spark.streaming import (
        near_dedup_docs_stream,
    )

    src = tmp_path / "empty_src"
    src.mkdir()
    stream = spark.readStream.schema("doc_id LONG, text STRING").parquet(
        str(src)
    )
    kw = dict(
        out_path=str(tmp_path / "o"), store_path=str(tmp_path / "s"),
        checkpoint=str(tmp_path / "c"),
    )
    # 1 band x 8 rows: recall 0.84^8 = 0.248 < 0.9 -> refuse, naming
    # the re-sign and the stream-lifetime consequence
    with pytest.raises(ValueError, match="under-recalls for"):
        near_dedup_docs_stream(
            stream, num_hashes=8, bands=1, min_recall=0.9, **kw
        )
    # satisfiable floor: 8 bands x 2 rows at 16 hashes -> 0.99998
    w = near_dedup_docs_stream(
        stream, num_hashes=16, bands=8, min_recall=0.9, **kw
    )
    assert w is not None
    import os as _os

    assert not _os.path.exists(str(tmp_path / "s"))  # nothing written
    with pytest.raises(ValueError, match="positive divisor"):
        near_dedup_docs_stream(stream, num_hashes=8, bands=3, **kw)
    with pytest.raises(ValueError, match="in \\(0, 1\\]"):
        near_dedup_docs_stream(
            stream, num_hashes=8, bands=4, min_recall=1.5, **kw
        )


def test_depth2_rescue_plan_has_no_nested_loop_join(spark):
    """Every level-2 arm must still be a hash equi-join on
    (half, sub, sub2) — the escalation may never degrade to a
    BroadcastNestedLoopJoin / cartesian product (the detonation shape
    the whole cap machinery exists to prevent)."""
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        simhash_near_duplicates,
    )

    df = _hot_fixture(spark)
    plan = (
        simhash_near_duplicates(
            df, "doc_id", 6, max_bucket=3,
            rescue_identical=True, rescue_near=True, rescue_depth=2,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_simhash_cap_stats_public_exact(spark):
    """The public measurement half prices a cap without running any
    join — exact numbers against the fixture arithmetic."""
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        simhash_cap_stats,
    )

    df = _hot_fixture(spark)
    s = simhash_cap_stats(df, 3)
    assert s == {
        "docs": 23,
        "invisible": 10,
        "visible_frac": 1.0 - 10 / 23,
        "total_pairs": 100,
        "skipped_pairs": 100,
        "skipped_frac": 1.0,
        "unbind_cap": 10,
    }
    # at the unbinding cap nothing is skipped
    s2 = simhash_cap_stats(df, 10)
    assert s2["skipped_pairs"] == 0 and s2["invisible"] == 0
    assert simhash_cap_stats(df.filter("doc_id < 0"), 3) is None


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False


if _HYP:

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=0, max_value=(1 << 32) - 1),
            min_size=8,
            max_size=60,
        ),
        st.integers(min_value=2, max_value=6),
        st.integers(min_value=1, max_value=32),
    )
    def test_simhash_rescue_depth2_property(fps_list, cap, h):
        """Property sweep for the level-2 escalation: on ARBITRARY
        fingerprint multisets, caps, and Hamming radii, the depth-2
        operator equals the pure-Python mirror exactly and is a
        superset of depth 1 (the level-2 arms only ADD edges)."""
        from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
            simhash_near_duplicates,
        )
        from clinical_trials_data_pipeline_analyis_spark.session import get_spark

        spark = get_spark(
            app_name="pytest", master="local[4]", shuffle_partitions=4
        )
        # crowd half the ids into one lo bucket so caps actually bind
        fps = {}
        for i, v in enumerate(fps_list, start=1):
            fps[i] = (v & ~0xFFFF) | 7 if i % 2 else v
        df = spark.createDataFrame(
            [(i, v) for i, v in fps.items()], ["doc_id", "simhash"]
        )
        got2 = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in simhash_near_duplicates(
                df, "doc_id", h, max_bucket=cap,
                rescue_identical=True, rescue_near=True, rescue_depth=2,
            ).collect()
        }
        mirror = _sh_mirror_depth2(fps, cap, h)
        want = (
            mirror["banded"] | mirror["star"]
            | mirror["rescue1"] | mirror["rescue2"]
        )
        assert got2 == want
        assert mirror["rescue2"] <= got2  # level-2 edges all present


def test_cap_probe_plan_uses_broadcast_joins(spark):
    """The cap probe must never become a scale cost itself: both
    bucket-size joins are BROADCAST (the size tables are <=65,536 rows
    by construction) and no sort-merge join appears — asserted on the
    plan, not claimed in prose."""
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        _cap_stats_frame,
    )

    plan = (
        _cap_stats_frame(_hot_fixture(spark), 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_df_stats_exact(spark):
    """The n-gram family's cap-consequence surface: exact numbers on a
    fixture where the bound fully blinds a template family (every
    shingle of the 5 template docs has df 5 > max_df 2), two docs
    share one hot shingle but keep discriminative ones, and one doc is
    untouched."""
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        ngram_df_stats,
    )

    template = "alpha beta gamma delta"          # 2 shingles, df 5 each
    rows = [(i, template) for i in range(5)]
    # doc 5 and 6: shingles {x y z, y z w} each df 2 <= max_df -> visible
    rows.append((5, "x y z w"))
    rows.append((6, "x y z w"))
    rows.append((7, "solo unique words here"))   # df 1 shingles
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    s = ngram_df_stats(df, "doc_id", "text", max_df=2).collect()[0]
    assert s["docs"] == 8
    # the 5 template docs have EVERY shingle at df 5 > 2 -> invisible
    assert s["invisible_docs"] == 5
    # instances: 5 docs x 2 shingles + 2 x 2 + 1 x 2 = 16
    assert s["total_instances"] == 16
    assert s["dropped_instances"] == 10  # the template postings
    assert s["unbind_max_df"] == 5  # raise max_df to 5 -> nobody blind
    # at the unbinding bound nothing is dropped or blind
    s2 = ngram_df_stats(df, "doc_id", "text", max_df=5).collect()[0]
    assert s2["invisible_docs"] == 0 and s2["dropped_instances"] == 0
