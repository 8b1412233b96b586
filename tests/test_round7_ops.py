"""Round-7 hardening: ADVICE r6 fixes (JPEG fill bytes / standalone
SOI-EOI, GIF-signature oracle parity, HLL read-off m-guard) and the
x08 block-size guard."""

from __future__ import annotations

import struct

import duckdb
import pytest

from pyspark.sql import functions as F

from compare_util import compare_frames


# ------------------------------------------------ JPEG marker walk
def test_parse_image_header_padded_jpeg():
    """ITU T.81 §B.1.1.2 allows 0xFF fill bytes before any marker, and
    SOI/EOI are standalone (no length field). A padded JPEG must still
    yield its real dimensions — before the r7 fix the fill byte was read
    as a length-bearing marker and the walk jumped past the SOF."""
    from clinical_trials_data_pipeline_analyis_spark.operators.multimodal import (
        parse_image_header,
    )

    app0 = (
        b"\xff\xff\xff\xe0"  # two fill bytes, then APP0
        + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00\x00\x48\x00\x48\x00\x00"
    )
    stray_soi = b"\xff\xd8"  # standalone marker mid-stream: no length
    sof0 = (
        b"\xff\xff\xc0"  # one fill byte, then SOF0
        + struct.pack(">H", 11)
        + b"\x08"
        + struct.pack(">HH", 77, 123)  # height, width
        + b"\x01\x01\x11\x00"
    )
    padded = b"\xff\xd8" + app0 + stray_soi + sof0
    assert parse_image_header(padded) == ("image/jpeg", 123, 77)

    # standalone EOI right after SOI (empty JPEG): no dims, no crash
    assert parse_image_header(b"\xff\xd8\xff\xd9") == (
        "image/jpeg",
        None,
        None,
    )
    # fill-byte run that ends the buffer
    assert parse_image_header(b"\xff\xd8\xff\xff\xff") == (
        "image/jpeg",
        None,
        None,
    )


# ------------------------------------------------ HLL m-mismatch guard
def test_hll_estimate_guards_m_mismatch(spark):
    """Reading a register table built with a LARGER m through a smaller-m
    estimator must NULL the estimate (occupied > m), not silently emit a
    nonsensical number (ADVICE r6)."""
    from clinical_trials_data_pipeline_analyis_spark.operators.sketches import (
        hll_estimate_from_registers,
        hll_registers,
    )

    df = spark.createDataFrame(
        [("g", f"v{i}") for i in range(600)], "g STRING, v STRING"
    )
    regs = hll_registers(df, "g", "v", m=256)

    bad = hll_estimate_from_registers(regs, "g", m=64).collect()
    assert len(bad) == 1
    assert bad[0]["occupied_registers"] > 64
    assert bad[0]["est_distinct"] is None

    good = hll_estimate_from_registers(regs, "g", m=256).collect()
    assert len(good) == 1
    assert good[0]["est_distinct"] is not None


# ------------------------------------------------ GIF oracle parity
def test_x15_parity_on_gif_prefixed_text(spark, tmp_path):
    """A document whose TEXT starts with the ASCII GIF signature is
    parsed as a real GIF by decode_image_metadata; the x15 oracle must
    replicate that branch so driver parity holds on ANY corpus
    (ADVICE r6). Crafted corpus: a parseable 'GIF89a' header, a
    truncated 'GIF87a' one, plain text, multibyte text, NULL text."""
    import pandas as pd

    from clinical_trials_data_pipeline_analyis_spark.suite import registry

    gif_ok = "GIF89a" + chr(44) + chr(1) + chr(7) + chr(0) + "trailing text"
    gif_trunc = "GIF87a" + chr(2)  # signature matches, dims cut off
    multibyte = "GIF89a" + chr(44) + chr(1) + chr(7) + chr(0) + "é" * 5
    rows = [
        (1, gif_ok, "en", "web", len(gif_ok)),
        (2, gif_trunc, "en", "web", len(gif_trunc)),
        (3, "plain document text", "en", "web", 19),
        (4, multibyte, "fr", "web", len(multibyte)),
        (5, None, None, "web", None),
        (6, "héllo wörld", "de", "web", 11),
    ]
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    path = tmp_path / "documents.parquet"
    pdf.to_parquet(path)

    reg = registry()["x15_multimodal_metadata"]
    got = reg.spark(spark, str(tmp_path)).toPandas()

    # the Spark side really did take the GIF branch
    by_id = got.set_index("doc_id")
    assert by_id.loc[1, "format"] == "image/gif"
    assert int(by_id.loc[1, "width"]) == 300  # 44 + 256*1, little-endian
    assert int(by_id.loc[1, "height"]) == 7
    assert by_id.loc[2, "format"] == "image/gif"
    assert pd.isna(by_id.loc[2, "width"])
    assert by_id.loc[3, "format"] == "fake/raw"
    assert by_id.loc[4, "format"] == "image/gif"
    assert int(by_id.loc[4, "width"]) == 300

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    want = con.execute(reg.oracle).df()
    compare_frames("x15_gif_corpus", got, want)


# ------------------------------------------------ x08 block-size guard
def _blocked_embeddings(spark):
    """Block 'A': 3 vectors (under any ceiling). Block 'B': 8 vectors
    including exact near-duplicates (over a ceiling of 5)."""
    import math

    rows = []
    for i in range(3):
        rows.append((i, "A", [1.0, float(i), 0.5, 0.0]))
    for i in range(8):
        # pairs (10,11), (12,13) are exact duplicates -> cosine 1.0
        base = [1.0, 0.0, float(i // 2), 1.0]
        rows.append((10 + i, "B", base))
    return spark.createDataFrame(
        rows, "vec_id LONG, label STRING, embedding ARRAY<DOUBLE>"
    )


def test_embedding_pairs_guard_fires_on_hot_block(spark):
    """VERDICT r6 'What's wrong' #2: the exact within-block pair scan is
    quadratic by contract — a block over the ceiling must fail FAST with
    a message naming the subquadratic routes, not detonate at scale."""
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        embedding_duplicate_pairs,
    )

    df = _blocked_embeddings(spark)
    with pytest.raises(ValueError) as exc:
        embedding_duplicate_pairs(df, max_block=5, oversize="error")
    msg = str(exc.value)
    assert "rhp_near_duplicates" in msg and "semantic_dedup" in msg
    assert "max_block=5" in msg

    # invalid mode is rejected up front
    with pytest.raises(ValueError):
        embedding_duplicate_pairs(df, max_block=5, oversize="bogus")


def test_embedding_pairs_route_matches_exact_on_small_blocks(spark):
    """With oversize='route', under-ceiling blocks keep the exact scan
    bit-identically; the oversized block is LSH-routed and every routed
    pair carries the same cosine the exact scan computes."""
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        embedding_duplicate_pairs,
    )

    df = _blocked_embeddings(spark)
    exact = {
        (r["label"], r["vec_a"], r["vec_b"]): r["cosine"]
        for r in embedding_duplicate_pairs(
            df, top_n=100, max_block=None
        ).collect()
    }
    routed = {
        (r["label"], r["vec_a"], r["vec_b"]): r["cosine"]
        for r in embedding_duplicate_pairs(
            df, top_n=100, max_block=5, oversize="route", dim=4
        ).collect()
    }
    # small block A: identical pairs and cosines
    assert {k: v for k, v in routed.items() if k[0] == "A"} == {
        k: v for k, v in exact.items() if k[0] == "A"
    }
    # routed block B: a subset of the exact pairs, same cosine per pair
    for k, v in routed.items():
        if k[0] == "B":
            assert k in exact and exact[k] == v
    # the exact-duplicate pairs collide in every LSH band -> recalled
    assert ("B", 10, 11) in routed and routed[("B", 10, 11)] == 1.0
    assert ("B", 12, 13) in routed and routed[("B", 12, 13)] == 1.0


def test_embedding_pairs_guard_disabled_under_ceiling(spark):
    """The default ceiling leaves every realistic block on the exact
    path: guarded (default) output equals the unguarded output."""
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        embedding_duplicate_pairs,
    )

    df = _blocked_embeddings(spark)
    got = embedding_duplicate_pairs(df, top_n=100).collect()
    want = embedding_duplicate_pairs(df, top_n=100, max_block=None).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


# ------------------------------------------------ wide perceptron (a90)
def test_token_ngram_features_counts(spark):
    """fastText feature map: unigrams + adjacent word bigrams. A doc of
    n tokens contributes exactly 2n-1 feature instances (n unigrams +
    n-1 bigrams); a one-token doc contributes 1; bigrams land in the
    wide bucket space alongside unigrams."""
    from clinical_trials_data_pipeline_analyis_spark.operators.perceptron import (
        token_ngram_features,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma", "en"),
            (2, "solo", "fr"),
            (3, "", "en"),
        ],
        "doc_id LONG, text STRING, lang STRING",
    )
    feats = token_ngram_features(docs, F.col("lang") == "en").collect()
    per_doc = {}
    for r in feats:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["cnt"]
    assert per_doc == {1: 5, 2: 1}  # 3 unigrams + 2 bigrams; 1 unigram
    # the bigram features are distinct buckets from the unigrams here
    assert len([r for r in feats if r["doc_id"] == 1]) == 5


def test_wide_perceptron_model_still_broadcasts(spark):
    """VERDICT r6 ask #4: the fixed-size-model discipline must hold at
    a width where the broadcast is a real payload. A fully DENSE
    65,536-row weight table (~1 MB of (bucket, weight) longs — the
    worst case for the 2^16 space, independent of corpus vocabulary)
    must still join the corpus side as a BroadcastHashJoin."""
    from clinical_trials_data_pipeline_analyis_spark.operators.perceptron import (
        WIDE_BUCKETS,
        perceptron_scores,
        token_ngram_features,
    )

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc text number "), F.col("id").cast("string")).alias(
            "text"
        ),
        F.when(F.col("id") % 2 == 0, "en").otherwise("fr").alias("lang"),
    )
    feats = token_ngram_features(docs, F.col("lang") == "en")
    dense = spark.range(WIDE_BUCKETS).select(
        F.col("id").alias("bucket"), (F.col("id") % 7 - 3).alias("weight")
    )
    scored = perceptron_scores(feats, dense)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin [bucket" in plan, plan
    assert scored.count() == 200


# ------------------------------------------------ pixel decode fate
def test_decode_image_real_guarded_without_pil(spark):
    """Without Pillow, the pixel-decode integration point must fail
    loudly and immediately — never a silent fake (VERDICT r6 ask #6)."""
    from clinical_trials_data_pipeline_analyis_spark.operators import multimodal

    if multimodal.HAS_PIL:
        pytest.skip("PIL installed: the real-decode test covers this")
    df = spark.createDataFrame([(1, b"x")], "doc_id LONG, payload BINARY")
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_real(df)


def test_decode_image_real_with_pil(spark):
    """With Pillow installed (production multimodal cluster), the same
    integration point rasterizes real pixels: true dims + a pixel-level
    luminance summary. Skipped in the PIL-less CI container."""
    pytest.importorskip("PIL")
    from test_round6_ops import _tiny_png

    from clinical_trials_data_pipeline_analyis_spark.operators.multimodal import (
        decode_image_real,
    )

    df = spark.createDataFrame(
        [(1, _tiny_png(3, 2)), (2, b"not an image")],
        "doc_id LONG, payload BINARY",
    )
    rows = {r["doc_id"]: r for r in decode_image_real(df).collect()}
    assert (rows[1]["width"], rows[1]["height"]) == (3, 2)
    assert rows[1]["mode"] == "L"
    assert rows[1]["mean_luma"] == 0  # all-black test image
    assert rows[2]["width"] is None and rows[2]["mode"] is None
