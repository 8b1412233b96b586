"""Round-8 hardening tests.

Covers the two sf10-sweep failures the round-7 verdict left open and the
round-7 ADVICE items:
- a53's RHP band width (12-bit bands) + the rhp_signatures dim guard
  (ADVICE medium: NULL-padded dots must fail loudly, not collapse every
  mismatched vector into one all-ones bucket);
- x07's hot-shingle bound + the new ngram_jaccard_pairs join-fan-out
  guard (the sf10 disk-fill, by audit rather than incident);
- embedding_duplicate_pairs oversize diagnostics (true top-5 blocks);
- multimodal decode NULL-id contract (named error, not a worker
  TypeError).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR


# ------------------------------------------------------- rhp dim guard
def _vecs(spark, dim: int, n: int = 6):
    rows = [(i, [float((i * 7 + d) % 5 - 2) for d in range(dim)]) for i in range(n)]
    # make rows 0 and 1 exact duplicates so a pair always exists
    rows[1] = (1, rows[0][1])
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")


def test_rhp_signatures_raise_on_dim_mismatch(spark):
    """ADVICE r7 (medium): a vector shorter than the planned hyperplane
    dim must raise a NAMED error — the old coalesce turned the NULL dot
    into 0.0, set every bit to 1, and silently re-serialized the whole
    oversized block into one LSH bucket."""
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        rhp_near_duplicates,
    )

    df = _vecs(spark, dim=4)
    with pytest.raises(Exception) as exc:
        rhp_near_duplicates(df, 0.5, n_bits=8, bands=2, dim=64).collect()
    assert "rhp_signatures" in str(exc.value)
    assert "dim=64" in str(exc.value)


def test_rhp_signatures_pass_and_recall_on_matching_dim(spark):
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        rhp_near_duplicates,
    )

    df = _vecs(spark, dim=4)
    got = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in rhp_near_duplicates(
            df, 0.99, n_bits=8, bands=2, dim=4
        ).collect()
    }
    # exact duplicates collide in every band and verify at cosine 1.0
    assert got[(0, 1)] == 1.0


def test_rhp_block_pairs_dim_guard(spark):
    """The oversize='route' path goes through the same signatures — a
    dim mismatch must refuse the route, not quietly degrade to the
    quadratic within-block join the guard exists to prevent."""
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        embedding_duplicate_pairs,
    )

    rows = [(i, "HOT", [1.0, 0.0, 0.0]) for i in range(8)]
    df = spark.createDataFrame(
        rows, "vec_id LONG, label STRING, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(Exception) as exc:
        embedding_duplicate_pairs(
            df, max_block=4, oversize="route", dim=64
        ).collect()
    assert "rhp_signatures" in str(exc.value)


def test_a53_band_constants_match_rhp_block_pairs():
    """VERDICT r7 ask #1: the registered a53 runs the SAME 12-bit band
    geometry as _rhp_block_pairs (the shape that survived the 155k hot
    block), not the 8-bit bands that OOM'd the sf10 sweep."""
    from clinical_trials_data_pipeline_analyis_spark.suite.extensions import (
        _RHP_BANDS,
        _RHP_BITS,
    )

    assert _RHP_BITS // _RHP_BANDS == 12


def test_a53_driver_fixture_stays_nontrivial(spark):
    """After the band-width change the driver row must still verify real
    pairs (an empty result would make the correctness row vacuous)."""
    from clinical_trials_data_pipeline_analyis_spark.suite import registry

    n = registry()["a53_rhp_embedding_neardup"].spark(spark, SF_DIR).count()
    assert n > 0


# ---------------------------------------------- ngram join-fanout guard
def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )


def test_ngram_guard_refuses_unbounded_hot_shingles(spark):
    """VERDICT r7 ask #6: the round-7 sf10 sweep filled the disk because
    x07 ran with max_df=None; the operator now estimates the join
    fan-out (one bounded aggregate) and refuses past the ceiling,
    naming the bounded/subquadratic routes."""
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    # 40 copies of one document: every shingle has df=40 -> fan-out
    # 40^2 * n_shingles, far over a toy ceiling of 1000.
    docs = _docs(spark, ["the quick brown fox jumps over the lazy dog"] * 40)
    with pytest.raises(ValueError) as exc:
        ngram_jaccard_pairs(docs, "doc_id", "text", max_join_rows=1000)
    msg = str(exc.value)
    assert "max_df" in msg and "minhash" in msg

    # max_df bounds the same corpus below the ceiling -> runs
    out = ngram_jaccard_pairs(
        docs, "doc_id", "text", max_df=5, max_join_rows=1000
    )
    assert out.count() == 0  # every shingle df=40 > 5: all filtered

    # and the guard is one aggregate, not a behavior change: disabling
    # it reproduces the unbounded result on a small corpus
    small = _docs(spark, ["a b c d e", "a b c d x", "zz yy xx ww vv"])
    got = ngram_jaccard_pairs(
        small, "doc_id", "text", max_join_rows=None
    ).collect()
    want = ngram_jaccard_pairs(small, "doc_id", "text").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_ngram_max_df_parity_where_the_cap_binds(spark):
    """Exact-value parity with DuckDB in the regime where max_df BINDS
    (the driver SFs never reach it — max shingle df there is 25): the
    spark filter and the oracle's freq-CTE mirror must agree on both
    membership and Jaccard values computed over the FILTERED sets."""
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    texts = [
        "alpha beta gamma delta epsilon zeta",   # 0: shares tail w/ 1
        "alpha beta gamma delta epsilon eta",    # 1
        "alpha beta gamma one two three",        # 2: hot prefix only
        "alpha beta gamma four five six",        # 3
        "alpha beta gamma seven eight nine",     # 4
        "unrelated words entirely here now ok",  # 5
    ]
    docs = _docs(spark, texts)
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", k=3, top_n=50, max_df=2
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents(doc_id BIGINT, text VARCHAR)"
    )
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)", list(enumerate(texts))
    )
    want = {
        (a, b): j
        for a, b, j in con.execute(
            """
WITH sh0 AS (
    SELECT DISTINCT doc_id,
           array_to_string(w[CAST(i AS INT):CAST(i AS INT) + 2], ' ') AS shingle
    FROM (SELECT doc_id,
                 string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
          FROM documents),
         UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
),
freq AS (SELECT shingle, COUNT(*) AS df FROM sh0 GROUP BY shingle),
sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0
       JOIN freq ON sh0.shingle = freq.shingle WHERE freq.df <= 2),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT doc_a, doc_b,
       ROUND(n_common / CAST(sa.set_size + sb.set_size - n_common AS DOUBLE), 6)
FROM pairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
"""
        ).fetchall()
    }
    # the hot prefix shingles (df up to 5) are excluded by max_df=2 on
    # BOTH engines; the (0,1) tail overlap survives on both
    assert got == want
    assert (0, 1) in got


def test_x07_registration_is_bounded():
    from clinical_trials_data_pipeline_analyis_spark.suite.extensions import (
        _X07_MAX_DF,
    )

    assert _X07_MAX_DF is not None and _X07_MAX_DF >= 1


# ----------------------------------- oversize diagnostics: true top-5
def test_oversize_error_names_true_largest_blocks(spark):
    """ADVICE r7: the refusal diagnostic must name the ACTUAL largest
    blocks (orderBy desc + limit), not an arbitrary collect sample."""
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        embedding_duplicate_pairs,
    )

    rows = []
    sizes = {"b9": 9, "b5": 5, "b7": 7, "b4": 4, "b6": 6, "b8": 8, "b3": 3}
    for label, n in sizes.items():
        for i in range(n):
            rows.append((len(rows), label, [1.0, 0.0]))
    df = spark.createDataFrame(
        rows, "vec_id LONG, label STRING, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(ValueError) as exc:
        embedding_duplicate_pairs(df, max_block=2, oversize="error", dim=2)
    msg = str(exc.value)
    assert "7 block(s)" in msg
    # top-5 by size, descending — b4 and b3 must NOT be named
    assert "('b9', 9), ('b8', 8), ('b7', 7), ('b6', 6), ('b5', 5)" in msg


# ------------------------------------------- multimodal NULL-id contract
def test_decode_metadata_null_id_raises_named_error(spark):
    """ADVICE r7: a NULL doc_id must fail with the operator's own
    message (the schema declares the id non-nullable), not a bare
    TypeError inside the Arrow worker."""
    from clinical_trials_data_pipeline_analyis_spark.operators.multimodal import (
        decode_image_metadata,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"GIF89a\x10\x00\x20\x00xx")), (None, bytearray(b"abc"))],
        "doc_id LONG, payload BINARY",
    )
    with pytest.raises(Exception) as exc:
        decode_image_metadata(df).collect()
    assert "non-nullable" in str(exc.value)

    # non-null ids with undecodable payloads still keep their rows
    ok = decode_image_metadata(
        df.filter(F.col("doc_id").isNotNull())
    ).collect()
    assert len(ok) == 1 and ok[0]["format"] == "image/gif"


# --------------------------------------- SemDeDup cell-size guard (a45)
def test_semdedup_max_cell_guard(spark):
    """With a FIXED centroid count the within-cell scan is O(n^2/k); the
    candidate budget makes that contract enforceable — an
    under-provisioned quantizer refuses fast, naming the largest cells,
    instead of quietly going quadratic."""
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        semantic_dedup,
        semantic_pair_candidates,
    )

    rows = [(i, [1.0, float(i % 3)]) for i in range(12)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    cents = emb.filter(F.col("vec_id") < 1)  # ONE centroid: one 12-row cell
    with pytest.raises(ValueError) as exc:
        # 66 within-cell pairs: the budget a 5-row cell ceiling allows
        semantic_dedup(emb, cents, threshold=0.9, max_candidates=10)
    msg = str(exc.value)
    assert "largest cells: [(0, 12)]" in msg and "centroids" in msg

    # the default budget keeps the historical behavior: same input runs
    out = semantic_dedup(emb, cents, threshold=0.9)
    assert out.count() == 12

    # and a guarded run whose cells all fit the budget matches the
    # unguarded result exactly
    blocked = (
        emb.selectExpr("vec_id", "embedding AS vec")
        .selectExpr("vec_id", "vec", "vec_id % 4 AS centroid_id")
        .localCheckpoint()
    )
    got = semantic_pair_candidates(blocked, 0.9, max_candidates=12).collect()
    want = semantic_pair_candidates(blocked, 0.9, max_candidates=None).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


# --------------------------------------- simhash hot-bucket cap (a23/a26)
def test_simhash_candidates_max_bucket_binding(spark):
    """Parity-style check in the regime where the cap BINDS: buckets
    over max_bucket are skipped on both join sides, smaller buckets are
    untouched. (At the driver SFs the registered cap of 2,000 never
    binds — max half-bucket is 291 at sf0.1; the sf10 audit measured a
    35,692-doc bucket, which is why the cap exists.)"""
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        simhash_candidates,
    )

    # lo half = simhash % 65536, hi half = simhash >> 16.
    # docs 0-2 share lo=5 (a 3-doc bucket); docs 3-4 share hi=9.
    rows = [
        (0, (1 << 16) + 5),
        (1, (2 << 16) + 5),
        (2, (3 << 16) + 5),
        (3, (9 << 16) + 7),
        (4, (9 << 16) + 8),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, simhash LONG")
    unbounded = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_candidates(df, "doc_id").collect()
    }
    assert unbounded == {(0, 1), (0, 2), (1, 2), (3, 4)}
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_candidates(df, "doc_id", max_bucket=2).collect()
    }
    # the 3-doc lo-bucket is skipped; the 2-doc hi-bucket survives
    assert capped == {(3, 4)}


def test_rhp_null_vectors_vanish_non_null_mismatch_raises(spark):
    """NULL embeddings are normal on a real ingest (missing media /
    failed encoder): they must VANISH from the signature table, not
    crash the job — only a NON-null length mismatch is a caller error."""
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        rhp_near_duplicates,
        rhp_signatures,
    )

    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0, 0.0]), (2, None)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    sigs = rhp_signatures(df, n_bits=8, bands=2, dim=4).collect()
    assert {r["vec_id"] for r in sigs} == {0, 1}
    got = {
        (r["vec_a"], r["vec_b"])
        for r in rhp_near_duplicates(df, 0.99, n_bits=8, bands=2, dim=4).collect()
    }
    assert got == {(0, 1)}


def test_rhp_candidate_fanout_guard(spark):
    """The (band, band_sig) equi-join's candidate count is a corpus-
    sized quantity (~n^2/2^bits per band): the round-8 1M rung ran
    500k-sized 12-bit bands into ~4e9 candidate rows and filled the
    disk. The guard estimates the exact join fan-out with one bounded
    aggregate and refuses past max_candidates, naming the bits-growth
    prescription; the default budget admits the fixture corpus."""
    import pytest

    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        rhp_near_duplicates,
    )

    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(40)]  # one bucket
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    # 40 identical vectors -> 780 within-bucket pairs PER BAND
    with pytest.raises(ValueError) as exc:
        rhp_near_duplicates(
            df, 0.5, n_bits=8, bands=2, dim=4, max_candidates=100
        )
    assert "candidate rows" in str(exc.value)
    assert "log2" in str(exc.value)
    # budget that admits it: identical output as unguarded
    guarded = rhp_near_duplicates(
        df, 0.5, n_bits=8, bands=2, dim=4, max_candidates=10_000
    ).collect()
    unguarded = rhp_near_duplicates(
        df, 0.5, n_bits=8, bands=2, dim=4, max_candidates=None
    ).collect()
    assert sorted(map(tuple, guarded)) == sorted(map(tuple, unguarded))
    assert len(guarded) == 780
