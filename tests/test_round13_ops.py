"""Round-13 hardening tests.

Theme 1 — filesystem-agnostic geometry sidecars (VERDICT r12 ask #1 /
ADVICE): the streaming signature stores' geometry pin must hold on ANY
filesystem the Spark session can serve, not just paths ``os.path`` can
see. The round-12 sidecar used ``os.path.exists``/``open``, which
return False / never fire on a ``file://`` (or ``hdfs://``/``s3a://``)
URI — the loud-mismatch contract silently vanished exactly where the
store is long-lived. These tests drive the new ``store_meta.
check_or_pin_geometry`` through a ``file://`` URI that ``os.path``
provably cannot see, and prove the pin still raises.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from clinical_trials_data_pipeline_analyis_spark.streaming.store_meta import (
    check_or_pin_geometry,
)


def test_geometry_pin_holds_on_nonlocal_uri(spark, tmp_path):
    """The exact round-12 failure mode: a store path os.path cannot see.

    ``file://<tmp>/store`` is a URI, not a POSIX path — os.path.exists
    returns False for it (asserted below, proving the OLD sidecar would
    have silently rewritten the marker every run). The Spark-routed pin
    must still (a) write on first contact, (b) pass on a matching
    re-check, (c) raise loudly on mismatch."""
    store = "file://" + str(tmp_path / "store")
    assert not os.path.exists(store)  # the old check's blind spot

    geo = {"n_bits": 16, "bands": 2, "dim": 64, "seed": 13}
    check_or_pin_geometry(spark, store, "_rhp_geometry", geo, "op")
    assert not os.path.exists(store)  # still invisible to os.path...
    assert (tmp_path / "store" / "_rhp_geometry").exists()  # ...but real

    # matching re-check: no raise
    check_or_pin_geometry(spark, store, "_rhp_geometry", dict(geo), "op")

    # mismatch: loud, names both geometries
    with pytest.raises(ValueError, match="geometry"):
        check_or_pin_geometry(
            spark, store, "_rhp_geometry", {**geo, "seed": 99}, "op"
        )


def test_geometry_pin_reads_legacy_local_marker(spark, tmp_path):
    """Back-compat: a round-12 marker (bare one-line JSON object written
    by ``json.dump``) is valid json-lines — stores pinned by the old
    code keep their pin under the new reader."""
    store = tmp_path / "store"
    store.mkdir()
    geo = {"n_bits": 16, "bands": 2, "dim": 64, "seed": 13}
    with open(store / "_rhp_geometry", "w", encoding="utf-8") as fh:
        json.dump(geo, fh)

    check_or_pin_geometry(spark, str(store), "_rhp_geometry", geo, "op")
    with pytest.raises(ValueError, match="geometry"):
        check_or_pin_geometry(
            spark, str(store), "_rhp_geometry", {**geo, "bands": 4}, "op"
        )


def test_geometry_pin_refuses_corrupt_marker(spark, tmp_path):
    """A marker whose fields cannot be read (wrong keys / truncated)
    surfaces as NULLs — the pin must refuse rather than continue over a
    store whose geometry cannot be PROVEN to match."""
    store = tmp_path / "store"
    store.mkdir()
    with open(store / "_rhp_geometry", "w", encoding="utf-8") as fh:
        fh.write('{"some_other_key": 1}\n')  # parseable, wrong fields
    with pytest.raises(ValueError, match="geometry"):
        check_or_pin_geometry(
            spark, str(store), "_rhp_geometry",
            {"n_bits": 16, "bands": 2}, "op",
        )
    with open(store / "_rhp_geometry", "w", encoding="utf-8") as fh:
        fh.write('{"n_bits": 1')  # truncated — unparseable
    with pytest.raises(ValueError, match="unreadable"):
        check_or_pin_geometry(
            spark, str(store), "_rhp_geometry",
            {"n_bits": 16, "bands": 2}, "op",
        )


def _doc_chunks(spark, tmp_path):
    """Two parquet chunk files of documents with a cross-chunk near-dup."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "completely different content about spark structured streaming"),
        (3, "the quick brown fox jumps over the lazy dog again and again!"),
        (4, "yet another unrelated document with its own distinct words"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    chunks = str(tmp_path / "chunks")
    df.filter(F.col("doc_id") <= 2).coalesce(1).write.parquet(f"{chunks}/c1")
    df.filter(F.col("doc_id") >= 3).coalesce(1).write.parquet(f"{chunks}/c2")
    return df.schema, chunks


def test_minhash_stream_geometry_pinned(spark, tmp_path):
    """near_dedup_docs_stream now pins (num_hashes, bands, shingle_k):
    a restart over a live store with different bands fails loudly."""
    import shutil

    from pyspark.errors import StreamingQueryException

    from clinical_trials_data_pipeline_analyis_spark.streaming import (
        near_dedup_docs_stream,
    )

    schema, chunks = _doc_chunks(spark, tmp_path)
    out, store, ckpt = (
        str(tmp_path / "flags"), str(tmp_path / "store"), str(tmp_path / "ckpt")
    )

    def run(bands=4):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{chunks}/c*")
        )
        q = near_dedup_docs_stream(
            stream, out_path=out, store_path=store, checkpoint=ckpt,
            bands=bands,
        ).start()
        q.awaitTermination(120)

    run()
    flags = {r["doc_id"]: r["is_near_dup"] for r in spark.read.parquet(out).collect()}
    assert flags[3] and not flags[1]

    shutil.rmtree(ckpt)
    with pytest.raises(StreamingQueryException, match="geometry"):
        run(bands=2)


def test_span_stream_geometry_pinned(spark, tmp_path):
    """clean_spans_stream pins k the same way."""
    import shutil

    from pyspark.errors import StreamingQueryException

    from clinical_trials_data_pipeline_analyis_spark.streaming import (
        clean_spans_stream,
    )

    schema, chunks = _doc_chunks(spark, tmp_path)
    out, store, ckpt = (
        str(tmp_path / "clean"), str(tmp_path / "ghstore"), str(tmp_path / "ckpt2")
    )

    def run(k=5):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{chunks}/c*")
        )
        q = clean_spans_stream(
            stream, out_path=out, store_path=store, checkpoint=ckpt, k=k
        ).start()
        q.awaitTermination(120)

    run()
    assert spark.read.parquet(out).count() == 4

    shutil.rmtree(ckpt)
    with pytest.raises(StreamingQueryException, match="geometry"):
        run(k=7)


# ---------------------------------------------------------------------
# Theme 2 — SimHash near-dup rescue for capped hot buckets (VERDICT r12
# ask #3): within-bucket finer-width escalation. The mirror below is an
# independent pure-Python oracle of the full operator contract (capped
# banded pairs + star + hub-level sub-band rescue).
# ---------------------------------------------------------------------


def _sh_mirror(fps: dict[int, int], cap: int, h: int) -> dict[str, set]:
    """Pure-Python mirror of simhash_near_duplicates(max_bucket=cap,
    rescue_identical=True, rescue_near=True). Returns each layer
    separately so the test can assert the rescue path actually fired."""
    from collections import Counter, defaultdict

    def ham(a, b):
        return bin(a ^ b).count("1")

    half_fns = {
        "lo": (lambda v: v % 65536, lambda v: (v >> 16) & 65535),
        "hi": (lambda v: (v >> 16) & 65535, lambda v: v % 65536),
    }
    banded, rescue = set(), set()
    widths = []
    for half_of, other_of in half_fns.values():
        hist = Counter(half_of(v) for v in fps.values())
        buckets = defaultdict(list)
        for i, v in fps.items():
            buckets[half_of(v)].append((i, v))
        for half, members in buckets.items():
            if hist[half] <= cap:  # kept: ordinary banded pairs
                for ia, va in members:
                    for ib, vb in members:
                        if ia < ib and ham(va, vb) <= h:
                            banded.add((ia, ib, ham(va, vb)))
                continue
            # skipped: dedupe to fingerprints, sub-band at width w
            fam = defaultdict(list)
            for i, v in members:
                fam[v].append(i)
            hubs = [(min(ids), v) for v, ids in fam.items()]
            w = 0
            while len(hubs) > cap * (2 ** w) and w < 16:
                w += 1
            widths.append(w)
            for sub_fn in (
                lambda o: o & ((1 << w) - 1),
                lambda o: (o >> (16 - w)) & ((1 << w) - 1),
            ):
                groups = defaultdict(list)
                for hub, v in hubs:
                    groups[sub_fn(other_of(v))].append((hub, v))
                for g in groups.values():
                    if len(g) > cap:
                        continue
                    for ha, va in g:
                        for hb, vb in g:
                            if ha < hb and ham(va, vb) <= h:
                                rescue.add((ha, hb, ham(va, vb)))
    star = set()
    fam = {}
    for i, v in fps.items():
        fam.setdefault(v, []).append(i)
    for v, ids in fam.items():
        hub = min(ids)
        star.update((hub, i, 0) for i in ids if i != hub)
    return {"banded": banded, "star": star, "rescue": rescue,
            "widths": widths}


def test_simhash_near_rescue_matches_brute_force(spark):
    """Exact-set equality of the full rescued operator against the
    pure-Python mirror, on a fixture where (non-vacuity asserted):
    a hot bucket exists, its deduped fingerprint count still exceeds
    the cap (w >= 1 — the sub-band path fires, not just the w=0
    degenerate), and the rescue contributes pairs neither the capped
    band join nor the star layer produces."""
    import random

    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        simhash_near_duplicates,
    )

    rng = random.Random(7)
    cap, h = 4, 6
    fps: dict[int, int] = {}
    # 12 distinct fingerprints crowded into lo-bucket 7, hi values in a
    # narrow range so several pairs are near (hamming <= 6) — only the
    # rescue can connect them (their hi buckets are all size <= cap)
    his = rng.sample(range(0, 64), 12)
    for i, hi in enumerate(his, start=1):
        fps[i] = (hi << 16) | 7
    # an identical-fingerprint family riding the same hot bucket
    for i in (13, 14, 15):
        fps[i] = fps[1]
    # background docs in their own cold buckets
    for i in range(16, 40):
        fps[i] = (rng.randrange(1 << 16) << 16) | rng.randrange(8, 65536)

    mirror = _sh_mirror(fps, cap, h)
    expected = mirror["banded"] | mirror["star"] | mirror["rescue"]
    # non-vacuity: the sub-band path must actually fire and contribute
    assert any(w >= 1 for w in mirror["widths"]), mirror["widths"]
    only_rescue = mirror["rescue"] - mirror["banded"] - mirror["star"]
    assert only_rescue, "fixture must exercise the rescue layer"

    df = spark.createDataFrame(
        [(i, v) for i, v in fps.items()], ["doc_id", "simhash"]
    )
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_near_duplicates(
            df, "doc_id", h, max_bucket=cap,
            rescue_identical=True, rescue_near=True,
        ).collect()
    }
    assert got == expected


def test_simhash_rescue_is_subset_of_uncapped(spark):
    """rescue_near only restores pairs the cap dropped — hub-hub edges
    share the bucket's half, so every rescued pair is in the uncapped
    candidate set (pair projection; hamming is a pair function)."""
    import random

    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        simhash_near_duplicates,
    )

    rng = random.Random(11)
    # everyone shares lo-half 5: one 59-member hot bucket at cap=3
    fps = {i: (rng.randrange(1 << 16) << 16) | 5 for i in range(1, 60)}
    df = spark.createDataFrame(
        [(i, v) for i, v in fps.items()], ["doc_id", "simhash"]
    )
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_duplicates(df, "doc_id", 32).collect()
    }
    rescued = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_duplicates(
            df, "doc_id", 32, max_bucket=3,
            rescue_identical=True, rescue_near=True,
        ).collect()
    }
    assert rescued <= uncapped
    assert rescued  # non-vacuous


# ---------------------------------------------------------------------
# ADVICE r12 items
# ---------------------------------------------------------------------


def test_ngram_auto_refuses_at_zero_surviving_mass(spark):
    """ADVICE #3: when even the df=2 level alone exceeds the budget,
    max_df='auto' must refuse loudly (max_df=1 leaves ZERO candidate
    pairs — a silent total-result change), naming the subquadratic
    routes. The pinned max_df=1 call keeps its explicit-contract
    behavior (empty result, no raise)."""
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], ["doc_id", "text"]
    )
    # k=3 -> 3 shingles, each df=2 -> join mass 3 > budget 2, and the
    # df=2 level IS the whole mass: fit_df=1, surviving mass 0.
    with pytest.raises(ValueError, match="cannot fit"):
        ngram_jaccard_pairs(
            docs, "doc_id", "text", k=3, max_df="auto", max_join_rows=2
        )
    # pinned max_df=1: explicit contract, empty result
    assert (
        ngram_jaccard_pairs(
            docs, "doc_id", "text", k=3, max_df=1, max_join_rows=2
        ).count()
        == 0
    )


# ---------------------------------------------------------------------
# Theme 3 — streaming twin for multi-probe cell assignment (VERDICT r12
# ask #7): ivf_assign_topp's window is stream-illegal; the top-p fold
# (transform -> array_sort comparator -> slice) is a pure projection.
# ---------------------------------------------------------------------


def test_topp_assign_stream_equals_batch_at_probes2(spark, tmp_path):
    """assign_cells_topp_stream at probes=2 must equal ivf_assign_topp
    row for row (vec_id, centroid_id, cosine, rank), its batch
    application must plan with no join/exchange/aggregate, and the
    equality must hold through a REAL streaming sink."""
    import json as _json

    from conftest import SF_DIR
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        ivf_assign_topp,
    )
    from clinical_trials_data_pipeline_analyis_spark.streaming.similarity import (
        assign_cells_topp_stream,
        topp_centroids_expr,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") % 97 == 0)
    centroid_rows = [
        (r["vec_id"], list(r["embedding"])) for r in centroids.collect()
    ]
    expected = {
        (r["vec_id"], r["rank"]): (r["centroid_id"], r["cosine"])
        for r in ivf_assign_topp(emb, centroids, probes=2).collect()
    }
    assert expected  # non-vacuous

    batch_out = assign_cells_topp_stream(emb, centroid_rows, probes=2)
    got_batch = {
        (r["vec_id"], r["rank"]): (r["centroid_id"], r["cosine"])
        for r in batch_out.collect()
    }
    assert got_batch == expected
    optimized = batch_out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in optimized
    assert "Exchange" not in optimized
    assert "Aggregate" not in optimized

    src = tmp_path / "emb_stream"
    src.mkdir()
    with open(src / "part-0.json", "w") as f:
        for r in emb.select("vec_id", "embedding").collect():
            f.write(
                _json.dumps(
                    {"vec_id": r["vec_id"], "embedding": list(r["embedding"])}
                )
                + "\n"
            )
    stream = spark.readStream.schema(
        "vec_id LONG, embedding ARRAY<FLOAT>"
    ).json(str(src))
    assigned = assign_cells_topp_stream(stream, centroid_rows, probes=2)
    assert assigned.isStreaming
    q = (
        assigned.writeStream.format("memory")
        .queryName("cells_topp_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_stream = {
        (r["vec_id"], r["rank"]): (r["centroid_id"], r["cosine"])
        for r in spark.table("cells_topp_stream").collect()
    }
    assert got_stream == expected

    # guard rails: size ceiling and probes validation
    with pytest.raises(ValueError, match="MAX_LITERAL_CENTROIDS"):
        topp_centroids_expr([(i, [0.0, 1.0]) for i in range(3000)], 2)
    with pytest.raises(ValueError, match="probes"):
        topp_centroids_expr(centroid_rows, 0)


def test_percolation_warning_prescribes_threshold(spark, caplog):
    """VERDICT r12 optional #8: when the tripwire fires, the warning
    names the smallest threshold the measured cosine histogram keeps
    <= n/2 edges at (the Erdős–Rényi giant-component heuristic), not
    just the symptom."""
    import logging
    import math
    import random

    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        semantic_dedup,
    )

    rng = random.Random(5)
    base = [rng.uniform(-1, 1) for _ in range(8)]
    nb = math.sqrt(sum(x * x for x in base))
    base = [x / nb for x in base]
    rows = []
    for i in range(30):
        # a chain of small perturbations: at threshold 0.5 everything
        # links into ONE component (percolation), while the pair
        # cosines still spread enough to histogram
        rows.append((i, [x + 0.02 * i * (1 if j % 2 else -1)
                         for j, x in enumerate(base)]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = emb.filter(F.col("vec_id") % 10 == 0)

    with caplog.at_level(
        logging.WARNING,
        logger="clinical_trials_data_pipeline_analyis_spark.operators.similarity",
    ):
        out = semantic_dedup(emb, cents, threshold=0.5, dim=8)
        n_comp = out.select("component").distinct().count()
    assert n_comp < 10  # percolated: far fewer components than rows
    msgs = [r.message for r in caplog.records if "percolating" in r.message]
    assert msgs, caplog.records
    assert "suggests threshold >=" in msgs[0] or "denser than any" in msgs[0]


def test_lsh_min_recall_floor(spark):
    """min_recall for MinHash (round 13, completing the RHP symmetry):
    pinned bandings validate-never-adjust; auto refuses prescribing a
    bigger signature when the recall-maximal fitting banding misses
    the floor; a satisfiable floor changes nothing."""
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(i, f"doc number {i} says {'spark ' * (i % 4 + 2)}and more words here")
         for i in range(40)],
        ["doc_id", "text"],
    )
    sigs = minhash_signatures(docs, "doc_id", "text")

    # pinned, floor violated: 1 band x 8 rows has recall 0.84^8 = 0.248
    with pytest.raises(ValueError, match="below min_recall"):
        lsh_candidate_pairs(sigs, "doc_id", bands=1, min_recall=0.5)
    # pinned, floor met: 4 bands x 2 rows -> 0.9868; identical result
    base = sorted(map(tuple, lsh_candidate_pairs(sigs, "doc_id", bands=4).collect()))
    floored = sorted(
        map(tuple, lsh_candidate_pairs(sigs, "doc_id", bands=4, min_recall=0.9).collect())
    )
    assert base == floored

    # auto, budget forces the coarsest banding (1x8, recall 0.248),
    # floor unreachable within this signature -> refusal names the
    # num_hashes prescription. The binding budget is the measured 1x8
    # mass itself (the smallest of any banding), computed here with
    # the operator's own Σ n(n-1)/2 accounting:
    import pyspark.sql.functions as SF
    bt = sigs.select(
        SF.concat(*[SF.col(f"h{j}") for j in range(8)]).alias("bsig")
    )
    m1 = int(
        bt.groupBy("bsig").count()
        .agg(SF.sum(SF.col("count") * (SF.col("count") - 1) / 2).alias("c"))
        .collect()[0]["c"] or 0
    )
    with pytest.raises(ValueError, match="re-sign with more hashes"):
        lsh_candidate_pairs(
            sigs, "doc_id", bands="auto", max_candidates=m1, min_recall=0.9
        )


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
    def test_simhash_rescue_property(fps_list, cap, h):
        """Property sweep: on ARBITRARY fingerprint multisets, caps, and
        Hamming radii, the rescued operator equals the pure-Python
        mirror exactly, and never exceeds the uncapped pair set. (Shared
        session fetched lazily — hypothesis wraps the function, so the
        pytest fixture can't inject it.)"""
        from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
            simhash_near_duplicates,
        )
        from clinical_trials_data_pipeline_analyis_spark.session import get_spark

        spark = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=4)
        # crowd half the ids into one lo bucket so caps actually bind
        fps = {}
        for i, v in enumerate(fps_list, start=1):
            fps[i] = (v & ~0xFFFF) | 7 if i % 2 else v
        df = spark.createDataFrame(
            [(i, v) for i, v in fps.items()], ["doc_id", "simhash"]
        )
        got = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in simhash_near_duplicates(
                df, "doc_id", h, max_bucket=cap,
                rescue_identical=True, rescue_near=True,
            ).collect()
        }
        mirror = _sh_mirror(fps, cap, h)
        assert got == mirror["banded"] | mirror["star"] | mirror["rescue"]


# ---------------------------------------------------------------------
# Theme 4 — the SimHash streaming twin (completing the family: MinHash,
# RHP, and now SimHash each have an incremental stream=batch form).
# ---------------------------------------------------------------------


def test_simhash_stream_matches_batch(spark, tmp_path, monkeypatch):
    """Flags from the streamed corpus must equal the batch operator's
    'appears as doc_b' set over the full corpus, the geometry pin must
    hold across restarts, and the per-epoch budget must refuse in its
    binding regime."""
    import shutil

    from pyspark.errors import StreamingQueryException

    from conftest import SF_DIR
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        simhash,
        simhash_near_duplicates,
    )
    from clinical_trials_data_pipeline_analyis_spark.streaming import (
        dedup as stream_dedup,
        simhash_near_dedup_stream,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = docs.count()
    chunks = str(tmp_path / "chunks")
    half = n // 2
    docs.filter(F.col("doc_id") < half).coalesce(1).write.parquet(f"{chunks}/c1")
    docs.filter(F.col("doc_id") >= half).coalesce(1).write.parquet(f"{chunks}/c2")

    out, store, ckpt = (
        str(tmp_path / "flags"), str(tmp_path / "fpstore"), str(tmp_path / "ckpt")
    )

    def run():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{chunks}/c*")
        )
        q = simhash_near_dedup_stream(
            stream, out_path=out, store_path=store, checkpoint=ckpt,
        ).start()
        q.awaitTermination(180)

    run()
    got = {
        r["doc_id"]: r["is_near_dup"]
        for r in spark.read.parquet(out).collect()
    }
    fps = simhash(docs, "doc_id", "text")
    want_dups = {
        r["doc_b"]
        for r in simhash_near_duplicates(fps, "doc_id", 6).collect()
    }
    assert len(got) == n
    assert {d for d, f in got.items() if f} == want_dups
    assert want_dups  # non-vacuous: the sf0.001 corpus has dup chains

    # geometry pin: a store whose marker disagrees (future width /
    # corruption) fails the stream loudly on restart
    shutil.rmtree(ckpt)
    with open(f"{store}/_simhash_geometry", "w", encoding="utf-8") as fh:
        fh.write('{"bits": 99}')
    with pytest.raises(StreamingQueryException, match="geometry"):
        run()

    # budget binding regime: a 1-row budget must refuse loudly naming
    # the routes (fresh store so the pin passes)
    shutil.rmtree(ckpt)
    shutil.rmtree(store)
    shutil.rmtree(out)
    monkeypatch.setattr(
        stream_dedup, "MAX_SIMHASH_STREAM_CANDIDATES_PER_EPOCH", 1
    )
    with pytest.raises(StreamingQueryException, match="candidate rows"):
        run()


def test_simhash_candidates_rescue_no_hamming_surface(spark):
    """The CANDIDATES surface (no _max_hamming) with rescue_near must
    emit exactly the mirror's pair projection at h=64 (no Hamming
    filter — 64 accepts any 32-bit xor), with (doc_a, doc_b) schema."""
    import random

    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        simhash_candidates,
    )

    rng = random.Random(17)
    fps = {i: (rng.randrange(1 << 16) << 16) | 9 for i in range(1, 30)}
    fps[30] = fps[1]  # one identical family
    df = spark.createDataFrame(
        [(i, v) for i, v in fps.items()], ["doc_id", "simhash"]
    )
    got_df = simhash_candidates(
        df, "doc_id", max_bucket=3, rescue_identical=True, rescue_near=True
    )
    assert got_df.columns == ["doc_a", "doc_b"]
    got = {(r["doc_a"], r["doc_b"]) for r in got_df.collect()}
    mirror = _sh_mirror(fps, 3, 64)
    want = {
        (a, b)
        for a, b, _ in mirror["banded"] | mirror["star"] | mirror["rescue"]
    }
    assert got == want
    assert mirror["rescue"]  # non-vacuous


def test_topp_foreach_batch_matches_batch(spark, tmp_path):
    """assign_cells_foreach_batch(probes=2) — the index-scale top-p form
    (no centroid ceiling; windows are legal inside foreachBatch) — must
    equal batch ivf_assign_topp per epoch, with the rank column."""
    import json as _json

    from conftest import SF_DIR
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        ivf_assign_topp,
    )
    from clinical_trials_data_pipeline_analyis_spark.streaming import (
        assign_cells_foreach_batch,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
        F.col("vec_id") < 200
    )
    centroids = emb.filter(F.col("vec_id") % 20 == 0)
    cent_path = str(tmp_path / "centroids")
    centroids.write.parquet(cent_path)

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
    stream = spark.readStream.schema(
        "vec_id LONG, embedding ARRAY<FLOAT>"
    ).json(str(src))
    q = assign_cells_foreach_batch(
        stream, cent_path, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        probes=2,
    ).start()
    q.awaitTermination(120)

    got = {
        (r["vec_id"], r["rank"]): (r["centroid_id"], r["cosine"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    want = {
        (r["vec_id"], r["rank"]): (r["centroid_id"], r["cosine"])
        for r in ivf_assign_topp(emb, centroids, probes=2).collect()
    }
    assert got == want and want

    with pytest.raises(ValueError, match="probes"):
        assign_cells_foreach_batch(
            stream, cent_path, str(tmp_path / "out2"), str(tmp_path / "c2"),
            probes=0,
        )
